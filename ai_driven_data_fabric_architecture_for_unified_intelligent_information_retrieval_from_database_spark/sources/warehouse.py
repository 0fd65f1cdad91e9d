"""Warehouse layouts and their hygiene: digest-keyed cached layouts,
per-process table names and scratch directories, and the cleanup that
keeps concurrent and exited sessions from growing the shared warehouse.

Every directory a process writes carries its session token
(``{pid}_{hex6}``): two live sessions never share a name, the process
removes its own at exit, and a later startup removes a dead pid's.
"""

from __future__ import annotations

import atexit
import glob
import os
import re
import shutil
import time
import uuid
from urllib.parse import urlparse

#: Minimum age before an orphaned cache digest may be pruned. A sibling
#: digest that is minutes old is plausibly ANOTHER live session's cache
#: (parallel test + bench runs share /tmp) — rmtree'ing it mid-scan fails
#: that session's query. An hour-old orphan is a regenerated corpus's
#: leftover; pruning those still bounds disk growth.
_PRUNE_MIN_AGE_S = 3600

_TOKEN_RE = re.compile(r"_(\d+)_[0-9a-f]{6}$")

_SESSION_TOKEN: str | None = None

_EXIT_CLEANUP_WAREHOUSES: set[str] = set()


def warehouse_dir(spark) -> str:
    """Local path of the session's ``spark.sql.warehouse.dir``."""
    return urlparse(spark.conf.get("spark.sql.warehouse.dir")).path


def cached_layout(root: str, digest: str, leaf: str, write_fn) -> str:
    """Digest-keyed layout cache under ``root``: returns ``root/digest/leaf``,
    invoking ``write_fn(path)`` once when no completed copy (_SUCCESS) is
    there, and age-prunes orphaned sibling digests (see _PRUNE_MIN_AGE_S).
    One implementation for every cached-layout operator — the protocol
    (freshness key, completion marker, prune policy) must not drift
    between them."""
    path = os.path.join(root, digest, leaf)
    digest_dir = os.path.join(root, digest)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        if os.path.isdir(root):
            now = time.time()
            for d in os.listdir(root):
                full = os.path.join(root, d)
                try:
                    old_enough = now - os.path.getmtime(full) > _PRUNE_MIN_AGE_S
                except OSError:
                    continue
                if d != digest and old_enough:
                    shutil.rmtree(full, ignore_errors=True)
        write_fn(path)
    else:
        # Touch the digest dir on every hit so its mtime is a LAST-USE
        # stamp, not a write stamp: without this a >1h session still
        # reading its cache can have it pruned by a concurrent session
        # holding a different corpus digest.
        try:
            os.utime(digest_dir, None)
        except OSError:
            pass
    return path


def _register_exit_cleanup(warehouse: str) -> None:
    """Remove THIS process's token-suffixed warehouse tables at interpreter
    exit, so an exited pytest/bench/driver process leaves no ``bk_*``/
    ``cdc_*`` dirs behind for some future process to age-prune. The
    metastore is per-session, so the directories are the only persistent
    state; rmtree is the complete cleanup. The 1h age-prune in
    :func:`prepare_table_location` stays as the backstop for SIGKILLed
    processes. ONLY this process's token-suffixed dirs are touched:
    shared cwd files (derby.log, metastore_db) are deliberately left
    alone — a concurrent sibling session in the same cwd may still hold
    its Derby catalog open, and the first process to exit deleting it
    would corrupt the survivor; those files are gitignored instead."""
    if warehouse in _EXIT_CLEANUP_WAREHOUSES:
        return
    _EXIT_CLEANUP_WAREHOUSES.add(warehouse)
    token = session_token()

    def _cleanup(warehouse=warehouse, token=token) -> None:
        for d in glob.glob(os.path.join(warehouse, f"*_{token}")):
            shutil.rmtree(d, ignore_errors=True)

    atexit.register(_cleanup)


def prune_stale_warehouse(warehouse: str | None = None) -> int:
    """Prune dead processes' token-suffixed warehouse dirs AT STARTUP.

    The atexit cleanup (:func:`_register_exit_cleanup`) handles graceful
    exits and the in-write age-prune (:func:`prepare_table_location`)
    handles long sessions, but a SIGKILLed predecessor's ``bk_*``/``cdc_*``
    dirs survive a whole later session if that session never happens to
    write the same table family. Called once from conftest/bench startup:
    a dir whose embedded pid is DEAD is residue and goes immediately; a
    dir whose pid is alive (this process, another live session, or a
    recycled pid) is NEVER pruned here — parquet dir mtimes do not
    advance on read, so an age guard would race a live >1h session that
    still queries a table it wrote at startup. The in-write family prune
    (:func:`prepare_table_location`) applies the same dead-pid test, so
    live-pid residue under a recycled pid is simply carried until that
    unrelated process exits and a later startup lands here. Returns the
    number of dirs removed."""
    if warehouse is None:
        warehouse = os.path.join(os.getcwd(), "spark-warehouse")
    if not os.path.isdir(warehouse):
        return 0
    removed = 0
    for d in os.listdir(warehouse):
        if not _token_pid_alive(d):
            shutil.rmtree(os.path.join(warehouse, d), ignore_errors=True)
            removed += 1
    return removed


def warehouse_scratch_root(spark, family: str) -> str:
    """Per-process scratch root INSIDE the Spark warehouse directory — the
    home for streaming state and staged feed layouts (``/tmp`` paths are
    driver-local on a real cluster, so executor-written parquet under
    them lands on per-machine disks and the driver's read back fails; the
    warehouse is a root executors share wherever the managed tables work
    at all). SCOPE: this implementation creates the directory with
    driver-local ``os.makedirs`` on the urlparse'd path, so the claim
    holds for shared-POSIX warehouses (NFS/Lustre/local[*]) — the
    deployments this repo's vanilla-parquet tables target. An
    ``hdfs://``/``s3a://`` warehouse needs the Hadoop FileSystem API for
    the mkdir and scheme-preserving paths; that port is mechanical (py4j
    ``FileSystem.get(...).mkdirs``) but untestable here, so it is
    documented rather than half-shipped. The dir name carries the
    per-process token, so the exit cleanup removes it on graceful exit
    and :func:`prune_stale_warehouse` removes dead-pid residue at the
    next startup — streaming scratch follows exactly the lifecycle the
    ``cdcsb_*`` tables do."""
    warehouse = warehouse_dir(spark)
    _register_exit_cleanup(warehouse)
    root = os.path.join(warehouse, f"{family}_{session_token()}")
    os.makedirs(root, exist_ok=True)
    return root


def warehouse_scratch_dir(spark, family: str) -> str:
    """A fresh per-invocation directory under this process's
    :func:`warehouse_scratch_root` (the tempfile.mkdtemp replacement for
    state that must outlive the creating function — the whole root is
    exit-cleaned, so no per-dir atexit registration is needed)."""
    d = os.path.join(warehouse_scratch_root(spark, family), uuid.uuid4().hex[:12])
    os.makedirs(d)
    return d


def session_token() -> str:
    """Per-process suffix for warehouse table names: two concurrent
    sessions sharing the repo-local warehouse can never write (or delete)
    each other's live tables because they never share a name. The pid is
    human-debuggable; the random tail covers pid recycling across
    restarts within the prune window."""
    global _SESSION_TOKEN
    if _SESSION_TOKEN is None:
        _SESSION_TOKEN = f"{os.getpid()}_{uuid.uuid4().hex[:6]}"
    return _SESSION_TOKEN


def ensure_bucketed_table(
    spark, table: str, df, key: str, digest: str, n_buckets: int = 16
) -> None:
    """Write ``df`` as a bucketed managed table once per session, with the
    collision/pruning discipline bucketed_join_revenue established:

    The metastore is per-session but the warehouse directory is not.
    Table names carry a per-PROCESS token (see :func:`session_token`),
    so no two live sessions can ever collide on a location — which
    removes any unguarded same-name rmtree (a concurrent session's live
    table could be deleted mid-query). A leftover location under OUR
    name means a dead previous process with a recycled pid-token:
    cleared only then. Orphaned same-family tables (old digests, exited
    sessions) are pruned age-guarded so repeated cycles don't grow the
    warehouse.
    """
    from .sinks import write_bucketed

    location = f"{warehouse_dir(spark)}/{table.lower()}"
    if spark.catalog.tableExists(table):
        try:  # last-use stamp, shields it from other sessions' pruning
            os.utime(location, None)
        except OSError:
            pass
        return
    prepare_table_location(spark, table, table.split(digest)[0].lower())
    write_bucketed(df, table, key, n_buckets=n_buckets, sort_col=key)


def _token_pid_alive(dirname: str) -> bool:
    """Whether a ``*_{pid}_{hex6}`` warehouse dir's embedded pid is a live
    process. Unparseable names and EPERM both report alive — the safe
    default for anything a prune loop is deciding whether to delete."""
    m = _TOKEN_RE.search(dirname)
    if not m:
        return True
    try:
        os.kill(int(m.group(1)), 0)
        return True
    except ProcessLookupError:
        return False
    except OSError:
        return True


def prepare_table_location(spark, table: str, family_prefix: str) -> None:
    """Warehouse hygiene for a per-process table name about to be written
    (the ensure_bucketed_table discipline, reusable by any writer of
    ``{family}_{digest}_{token}`` tables): clear a leftover location under
    OUR name (only a dead previous process with a recycled token can have
    left it), and prune orphaned same-family siblings so repeated cycles
    don't grow the shared warehouse. A sibling is pruned only if its
    embedded pid is DEAD *and* it is stale by mtime — the age guard
    alone raced a live >1h session that wrote a table once and has only
    been reading it, since ``spark.table`` reads never advance the dir
    mtime. Live-pid residue from a recycled pid therefore survives this
    prune, but only until that unrelated process exits — the next
    startup's :func:`prune_stale_warehouse` then removes it."""
    warehouse = warehouse_dir(spark)
    _register_exit_cleanup(warehouse)
    location = f"{warehouse}/{table.lower()}"
    if os.path.isdir(location) and not spark.catalog.tableExists(table):
        shutil.rmtree(location)
    if os.path.isdir(warehouse):
        now = time.time()
        for d in os.listdir(warehouse):
            full = os.path.join(warehouse, d)
            try:
                old_enough = now - os.path.getmtime(full) > _PRUNE_MIN_AGE_S
            except OSError:
                continue
            if (
                d.startswith(family_prefix)
                and d != table.lower()
                and old_enough
                and not _token_pid_alive(d)
            ):
                spark.sql(f"DROP TABLE IF EXISTS {d}")
                shutil.rmtree(full, ignore_errors=True)
