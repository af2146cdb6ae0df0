"""Memoized access to persisted-index metadata sidecars.

Every persisted index in this package carries its build parameters
WITH the index (a ``__meta`` catalog sidecar for the bucketed
LSH/simhash families, a ``{path}/meta`` + ``{path}/codebooks`` parquet
pair for the PQ family) so a probe can never hash/band/quantize on
different parameters than the build. Reading a sidecar through Spark
costs 1-2 scheduled jobs per call; on a probe-many serving path that
overhead dominated the probe itself (round-7 bench: the x63 probe p50
regressed +30% the round the per-probe sidecar reads landed).

The sidecars only change when an index is (re)built — appends and
compactions freeze them by design — so reads memoize per
``(session uid, index identity)`` and invalidate on a FILESYSTEM
TOKEN: the (relpath, size, mtime_ns) listing of the sidecar's own
files. Any rebuild rewrites those files (new part names, new mtimes),
so the token misses and the sidecar reloads — whichever process
performed the rebuild. Computing the token is a driver-local listdir
of a directory holding a handful of tiny files: no Spark job, no JVM
round-trip.

Non-local storage (no listable directory) falls back to an uncached
read every call — correct, just not memoized; the production home for
a persisted index on an object store is a table format whose snapshot
id plays the token's role (see SCALING.md, index-lifecycle section).

Tombstones are NOT memoized here: they change on every delete, so
``layout.read_tombstones`` lists its parquet id directory afresh on
every probe (a driver listdir when the index has none).
"""

from __future__ import annotations

import os
import re
from typing import Any, Callable

_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")

# (session_uid, *ident) -> (fs token, value)
_CACHE: dict[tuple, tuple] = {}

# (session_uid, database) -> locationUri (a catalog constant per db)
_DB_LOC: dict[tuple, str] = {}


def local_path(path: str) -> str | None:
    """``path`` as a local filesystem path, or None when it carries a
    non-local scheme. ``file:`` URIs are unwrapped (``file:/x``,
    ``file:///x`` -> ``/x``)."""
    p = str(path)
    if p.startswith("file:"):
        p = p[len("file:"):]
        if p.startswith("/"):
            p = "/" + p.lstrip("/")
    elif _SCHEME_RE.match(p) and "://" in p:
        return None
    return p


def local_dir(path: str) -> str | None:
    """``path`` as a listable local directory (``local_path``), or None
    when it is non-local or missing — the caller treats that as
    "cannot token, read uncached"."""
    p = local_path(path)
    return p if p is not None and os.path.isdir(p) else None


def fs_token(dirs: list[str]) -> tuple | None:
    """Invalidation token for a set of local directories: every file's
    (relpath, size, mtime_ns), sorted. None when any directory is
    missing or unreadable — never guess staleness."""
    out: list[tuple] = []
    for d in dirs:
        if not os.path.isdir(d):
            return None
        for dirpath, _dn, files in os.walk(d):
            for f in files:
                fp = os.path.join(dirpath, f)
                try:
                    st = os.stat(fp)
                except OSError:
                    return None
                out.append((os.path.relpath(fp, d), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def _session_uid(spark) -> str:
    # runtime import: queries.memo lives under the queries package,
    # whose __init__ imports the whole registry — resolving it lazily
    # keeps operator-module import order acyclic
    from wren_engine_spark.queries.memo import session_uid

    return session_uid(spark)


def cached_read(
    spark, ident: tuple, paths: list[str], loader: Callable[[], Any]
) -> Any:
    """``loader()`` memoized per (session uid, ``ident``) and
    invalidated by the filesystem token of ``paths``. Falls through to
    an uncached ``loader()`` whenever a token cannot be computed
    (non-local or missing path)."""
    dirs = [local_dir(p) for p in paths]
    if any(d is None for d in dirs):
        return loader()
    token = fs_token([d for d in dirs if d is not None])
    if token is None:
        return loader()
    key = (_session_uid(spark),) + ident
    hit = _CACHE.get(key)
    if hit is not None and hit[0] == token:
        return hit[1]
    val = loader()
    _CACHE[key] = (token, val)
    return val


def managed_table_location(spark, table: str) -> str | None:
    """Warehouse location of a managed table, existing or not: a plain
    path on a local warehouse, else the warehouse URI. Resolved through
    the owning DATABASE's location (db-qualified tables live under
    ``<warehouse>/<db>.db/`` — layout.drop_managed_table's rule); None
    when that database does not exist. The db location is itself
    memoized per session: after the first call the resolution is
    dictionary lookups, no catalog round-trip."""
    parts = [p.lower() for p in table.split(".")]
    db = parts[-2] if len(parts) >= 2 else spark.catalog.currentDatabase().lower()
    dkey = (_session_uid(spark), db)
    loc = _DB_LOC.get(dkey)
    if loc is None:
        if not spark.catalog.databaseExists(db):
            return None
        loc = spark.catalog.getDatabase(db).locationUri
        _DB_LOC[dkey] = loc
    base = local_dir(loc)
    if base is None:
        return f"{loc.rstrip('/')}/{parts[-1]}"
    return os.path.join(base, parts[-1])


def managed_table_dir(spark, table: str) -> str | None:
    """Local warehouse directory of a managed table
    (``managed_table_location``), or None when the warehouse is not
    local."""
    loc = managed_table_location(spark, table)
    return None if loc is None or _SCHEME_RE.match(loc) else loc


def table_meta_row(spark, table: str):
    """The single Row of the ``{table}__meta`` sidecar, memoized, or
    None when the sidecar does not exist. Invalidation: the sidecar's
    managed directory token — ``write_small_table`` drops and rewrites
    that directory on every (re)build, so a rebuilt index's first
    probe always reloads; appends never touch the sidecar, so they
    never invalidate (parameters are frozen by design)."""

    meta_tbl = f"{table}__meta"

    def load():
        from wren_engine_spark.operators import layout

        if spark.catalog.tableExists(meta_tbl):
            return layout.read_index_table(spark, meta_tbl).collect()[0]
        return None

    d = managed_table_dir(spark, meta_tbl)
    if d is None or not os.path.isdir(d):
        return load()
    # key on the RESOLVED directory, not the (possibly unqualified)
    # table name: the same bare name in two databases is two sidecars
    return cached_read(spark, ("tblmeta", d), [d], load)


def require_local_index_path(path: str, op: str) -> None:
    """The PQ-index epoch staging and compaction swap are built on
    ``os.replace``/``os.rename``, whose atomicity is a LOCAL (POSIX /
    HDFS-style) filesystem guarantee; on an object store (s3a://,
    gs://, ...) rename is copy+delete and the idempotent-epoch and
    two-rename-swap invariants silently break. Refuse loudly instead:
    the production path for those stores is a commit protocol or a
    table format (Iceberg/Delta) whose metadata swap is the atomic
    step (SCALING.md, index-lifecycle section)."""
    p = str(path)
    if p.startswith("file:"):
        return
    # any other scheme prefix counts, single- or double-slash form
    # (Hadoop accepts hdfs:/nn/x too)
    if _SCHEME_RE.match(p):
        raise ValueError(
            f"{op}: index path {path!r} is not on a local filesystem; "
            "the epoch-staging/compaction rename protocol is only "
            "atomic on local/HDFS-style storage. Host the index on "
            "local disk, or use a table format whose snapshot commit "
            "replaces the rename (see SCALING.md)."
        )
