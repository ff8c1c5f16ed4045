"""Versioned table loads: immutable version directories + an atomic
latest-pointer — time travel, rollback, and audit on plain parquet.

The reference's MERGE commit is a destructive rename swap
(``mysql_loader.py:119-123``, ``hive_loader.py:166-179``): the prior
table state is deleted the moment the new one lands, so a bad batch
is unrecoverable without re-extracting. Here every load writes a NEW
immutable directory ``v=N`` and then flips a one-line pointer file —
readers never see a partial table, any historical version stays
readable until vacuumed, and rollback is a pointer flip, not a data
rewrite. This is the Delta/Iceberg snapshot idea reduced to its
format-agnostic core (works on file://, HDFS, S3A via the Hadoop FS
API — no table-format jar needed).

Concurrency note: the pointer write is last-writer-wins (rename-based
atomic replace); concurrent writers need an external lock, same as
the reference's rename dance. Readers are always consistent: they
resolve the pointer once, then read an immutable directory.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

from lightlane_spark.loaders.loader import fs_path, merge_upsert

_POINTER = "_LATEST"


def _read_small(fs, path) -> str:
    """The text of a small ASCII file (pointer, commit marker), read
    byte-at-a-time via the no-arg ``read()`` overload — the only
    FSDataInputStream.read signature py4j can call without a Java
    byte[]. At most 64 bytes are read."""
    stream = fs.open(path)
    try:
        data = bytearray()
        b = stream.read()
        while b != -1 and len(data) < 64:
            data.append(b)
            b = stream.read()
    finally:
        stream.close()
    return data.decode("ascii").strip()


class VersionedTable:
    """A parquet table with numbered immutable versions under
    ``base_path/v=N`` and a ``_LATEST`` pointer file."""

    def __init__(self, spark: SparkSession, base_path: str, clock=None):
        self.spark = spark
        self.base_path = base_path.rstrip("/")
        # injectable commit clock (epoch seconds) — tests pin it so
        # AS-OF reads are reproducible; default is wall clock
        import time as _time

        self._clock = clock or _time.time

    # -- write --------------------------------------------------------

    def write_version(self, df: DataFrame) -> int:
        """Write ``df`` as the next version and flip the pointer.
        Returns the new version number.

        The next number comes from the directories on storage, not the
        pointer: after ``rollback(v)`` the pointer is behind versions
        that still exist (deliberately — forensics), and pointer+1
        would collide with one of them and wedge the table on the
        ``errorifexists`` write."""
        n = max(self.versions(), default=0) + 1
        path = self._version_path(n)
        df.write.mode("errorifexists").parquet(path)
        self._write_commit_marker(n)
        self._write_pointer(n)
        return n

    def merge_version(
        self,
        staging: DataFrame,
        primary_keys: list[str],
        schema_evolution: bool = False,
    ) -> int:
        """MERGE ``staging`` into the latest version → a NEW version
        (the reference's upsert, but the pre-merge state survives)."""
        latest = self.latest_version()
        if latest is None:
            return self.write_version(staging)
        target = self.read(latest)
        merged = merge_upsert(
            target, staging, primary_keys, schema_evolution=schema_evolution
        )
        return self.write_version(merged)

    # -- read ---------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        """Read a specific version (time travel) or the latest."""
        v = version if version is not None else self.latest_version()
        if v is None:
            raise FileNotFoundError(f"no versions at {self.base_path}")
        return self.spark.read.parquet(self._version_path(v))

    def versions(self) -> list[int]:
        """All version numbers present on storage, ascending."""
        fs, base = fs_path(self.spark, self.base_path)
        if not fs.exists(base):
            return []
        out = []
        for st in fs.listStatus(base):
            name = st.getPath().getName()
            if name.startswith("v="):
                try:
                    out.append(int(name[2:]))
                except ValueError:
                    pass
        return sorted(out)

    def latest_version(self) -> int | None:
        """Resolve the pointer; if it is missing but version
        directories exist (the delete→rename window of a concurrent
        ``_write_pointer``, or a crash between those two calls), fall
        back to the newest version on storage — readers must never see
        an intact table as missing."""
        fs, ptr = fs_path(self.spark, f"{self.base_path}/{_POINTER}")
        if not fs.exists(ptr):
            vs = self.versions()
            return vs[-1] if vs else None
        return int(_read_small(fs, ptr))

    def read_asof(self, ts: float) -> DataFrame:
        """Time travel by TIMESTAMP: read the newest version whose
        commit time is ≤ ``ts`` (epoch seconds) — 'the table as the
        21:00 report saw it'. Commit times come from per-version
        ``_COMMIT_TS`` markers written before the pointer flip, so an
        AS-OF read never resolves to a version that was still being
        written at ``ts``. Versions predating the marker (older
        tables) are invisible to AS-OF reads; ``read(version=...)``
        still reaches them."""
        eligible = [v for v, t in self.history() if t <= ts]
        if not eligible:
            raise FileNotFoundError(
                f"no version committed at or before {ts} at {self.base_path}"
            )
        return self.read(max(eligible))

    def history(self) -> list[tuple[int, float]]:
        """(version, commit_epoch_seconds) for every marked version,
        ascending by version."""
        out = []
        fs, _ = fs_path(self.spark, self.base_path)
        for v in self.versions():
            _, marker = fs_path(self.spark, f"{self._version_path(v)}/_COMMIT_TS")
            if not fs.exists(marker):
                continue
            out.append((v, float(_read_small(fs, marker))))
        return out

    # -- manage -------------------------------------------------------

    def rollback(self, version: int) -> None:
        """Point the table back at ``version`` — no data movement; the
        bad versions stay on storage for forensics until vacuumed."""
        if version not in self.versions():
            raise ValueError(f"version {version} does not exist at {self.base_path}")
        self._write_pointer(version)

    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Delete all but the newest ``keep_last`` versions (never the
        pointer target). Returns the versions removed.

        ``keep_last`` must be >= 1: ``vs[-0:]`` is the WHOLE list in
        Python, so 0 would silently keep everything — the opposite of
        what a caller asking for 0 means. Rejected loudly instead."""
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        current = self.latest_version()
        vs = self.versions()
        keep = set(vs[-keep_last:]) | ({current} if current is not None else set())
        removed = []
        fs, _ = fs_path(self.spark, self.base_path)
        for v in vs:
            if v not in keep:
                _, p = fs_path(self.spark, self._version_path(v))
                fs.delete(p, True)
                removed.append(v)
        return removed

    # -- plumbing -----------------------------------------------------

    def _version_path(self, n: int) -> str:
        return f"{self.base_path}/v={n}"

    def _write_commit_marker(self, n: int) -> None:
        fs, marker = fs_path(self.spark, f"{self._version_path(n)}/_COMMIT_TS")
        out = fs.create(marker, True)
        try:
            out.write(bytearray(repr(float(self._clock())).encode("ascii")))
        finally:
            out.close()

    def _write_pointer(self, n: int) -> None:
        """Atomic pointer flip: write a temp file, rename over the old
        pointer (rename replaces atomically on HDFS/local; on S3A it
        is copy+delete — pair with a lock there)."""
        fs, ptr = fs_path(self.spark, f"{self.base_path}/{_POINTER}")
        _, tmp = fs_path(
            self.spark, f"{self.base_path}/.{_POINTER}.tmp-{uuid.uuid4().hex[:8]}"
        )
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(str(n).encode("ascii")))
        finally:
            out.close()
        if fs.exists(ptr):
            fs.delete(ptr, False)
        if not fs.rename(tmp, ptr):
            raise IOError(f"could not update {_POINTER} at {self.base_path}")

    # -- governance ---------------------------------------------------

    def forget(
        self,
        predicate: str,
        audit_cols: list[str] | None = None,
    ) -> tuple[int, DataFrame]:
        """Right-to-erasure: delete every row matching ``predicate``
        from the latest version into a NEW version, returning
        ``(new_version, audit_df)`` where the audit frame holds the
        requested ``audit_cols`` (default: none — count only) of the
        erased rows plus the erasure version. The deleted data stays
        in PRIOR versions until :meth:`vacuum` reclaims them — the
        erasure is complete only after vacuum, which is exactly the
        retention nuance GDPR tooling must surface, so it is explicit
        here rather than hidden.

        Scale: one filtered rewrite of the current version (map-only
        scan+filter per partition); the audit frame is the matched
        subset, typically tiny.

        NULL semantics: rows where ``predicate`` evaluates to NULL are
        KEPT (and absent from the audit) — a three-valued-logic split
        (``filter(p)`` / ``filter(NOT p)``) would silently drop them
        from BOTH sides, i.e. un-audited over-deletion in a
        right-to-erasure API. Both branches coalesce the predicate to
        false so kept ∪ erased == current exactly.

        Note the audit frame is lazy over the PRIOR version's files —
        collect or persist it before :meth:`vacuum` reclaims that
        version, or the audit scan fails."""
        latest = self.latest_version()
        if latest is None:
            raise ValueError("forget() on an empty table")
        current = self.read(latest)
        erased = current.filter(f"coalesce(({predicate}), false)")
        kept = current.filter(f"NOT coalesce(({predicate}), false)")
        new_version = self.write_version(kept)
        from pyspark.sql import functions as F

        audit = erased.select(*(audit_cols or [])).agg(
            F.count(F.lit(1)).alias("n_erased"),
            F.lit(new_version).alias("erased_in_version"),
        ) if not audit_cols else erased.select(
            *audit_cols, F.lit(new_version).alias("erased_in_version")
        )
        return new_version, audit
