"""Build-once lifecycle for every persisted index tree.

``persist`` owns the whole build-once decision for all 17 fingerprint-
keyed trees the ANN, lexical, Bloom and late-interaction families keep
(the main indexes, their upsert/compact/e2e/merge demo trees and the
Bloom registries). Each build function names its tree and passes the
Spark work as ``write(staging)``; everything else lives here, once.

- **Layout**: one root, ``$SPARK_GRAFT_INDEX_DIR`` (default
  ``spark-warehouse/``), holding ``<family>/<kind>_v<N>/<key>`` —
  ``ann_index/upsert_v1/<key>``, ``lex_index/compact_v2/<key>``, … The
  family's main index has no kind and lives at ``<family>/v<N>/<key>``.
  The key is the fixture path plus the (size, mtime_ns) of the source
  parquet (``fingerprint_key``), so a regenerated fixture at the same
  path gets a FRESH tree instead of a stale one; the format version
  ``N`` is bumped on any layout change.
- **Marker**: the tree's marker file (``meta.json``,
  ``upsert_done.json``, …) is written LAST into the staging tree, so
  its presence in a published tree means the tree is complete.
  ``persist`` returns early when the marker is present and the
  caller's ``current(path)`` cache-validity test holds (geometry,
  purge ledger, tombstone list, merge manifest); a failing test may
  displace the tree, and the tree is rebuilt.
- **Publish atomicity**: every tree is fully built in a
  ``tempfile.mkdtemp`` staging dir next to its final path and
  ``os.rename``d into place. Readers never observe a partial tree;
  concurrent builders race benignly (the loser discards its staging
  dir and reads the winner's deterministic twin). A failing build
  removes its staging dir (``staging_tree``).
- **Force-rebuild atomicity**: ``force=True`` never ``rmtree``s the
  live tree before the replacement exists. The old tree is renamed
  aside to a unique trash path first — readers holding the old path
  keep a consistent snapshot until their scan ends — then reaped.
- **Garbage collection**: after a successful publish, sibling keys
  for the SAME fixture path are displaced and later reaped. Matching
  is by the EXACT key shape ``<flattened path>_<size>_<mtime_ns>``
  (anchored regex), not a bare prefix: a prefix match would also
  claim keys of fixtures whose flattened path merely extends this
  one (``/data/sf`` vs ``/data/sf/sub`` or ``/data/sf_v2`` all
  flatten to names starting ``data_sf_``) and delete their LIVE
  trees out from under concurrent readers. In-flight ``staging_*``
  dirs never match the key shape and are left alone.
- **Trash-dir grace**: displaced trees are reaped by
  ``prune_stale_keys`` only once they are older than
  ``TRASH_GRACE_SEC`` — reaping them in the same pass that published
  the replacement would reopen the reader window the rename-aside
  exists to close. A reader that holds an old tree longer than that
  must re-resolve the path.

``BUILDS`` counts builds per ``<family>/<kind>`` (``<family>`` for the
main index), so tests can pin that serving reuses a published tree.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile
import time
from collections import Counter
from collections.abc import Callable
from contextlib import contextmanager
from pathlib import Path

# how long a force-rebuild trash tree survives before GC may reap it:
# long enough for any in-flight scan of the old snapshot to finish
TRASH_GRACE_SEC = 600

# builds per "<family>/<kind>" ("<family>" for the main index)
BUILDS: Counter[str] = Counter()


def index_root() -> str:
    """The one root every index tree lives under."""
    return os.environ.get(
        "SPARK_GRAFT_INDEX_DIR",
        str(Path(__file__).resolve().parents[2] / "spark-warehouse"),
    )


def artifact_path(family: str, kind: str, version: int, sf_dir: str, source: str) -> str:
    """``<root>/<family>/<kind>_v<version>/<key>`` (``v<version>`` for
    the family's main index, ``kind=""``)."""
    tree = f"{kind}_v{version}" if kind else f"v{version}"
    return os.path.join(index_root(), family, tree, fingerprint_key(sf_dir, source))


def persist(
    family: str,
    kind: str,
    version: int,
    sf_dir: str,
    source: str,
    *,
    marker: str,
    meta: dict,
    write: Callable[[str], dict | None],
    current: Callable[[str], bool] | None = None,
    force: bool = False,
) -> str:
    """Build the tree ``artifact_path(...)`` once and return its path.

    Returns early when ``marker`` is present and ``current(path)``
    holds, unless ``force``. Otherwise stages the tree, runs
    ``write(staging)``, writes ``{"version": version, **meta}`` plus
    any fields ``write`` returns as the marker, publishes atomically
    (``force`` renames the live tree aside first), prunes superseded
    keys and counts the build in ``BUILDS``."""
    path = artifact_path(family, kind, version, sf_dir, source)
    if (
        not force
        and os.path.isfile(os.path.join(path, marker))
        and (current is None or current(path))
    ):
        return path
    BUILDS[f"{family}/{kind}" if kind else family] += 1
    with staging_tree(path) as staging:
        extra = write(staging)
        with open(os.path.join(staging, marker), "w") as f:
            json.dump({"version": version, **meta, **(extra or {})}, f)
        publish_staging(staging, path, marker=marker, force=force)
    prune_stale_keys(path, sf_dir)
    return path


def fingerprint_key(sf_dir: str, source_file: str) -> str:
    """Artifact key for one fixture: path + (size, mtime_ns) of the
    source parquet, so a regenerated fixture at the same path gets a
    FRESH key — the stale-index failure mode of path-only keying."""
    st = os.stat(os.path.join(sf_dir, source_file))
    return f"{_sf_prefix(sf_dir)}_{st.st_size}_{st.st_mtime_ns}"


def _sf_prefix(sf_dir: str) -> str:
    return sf_dir.strip("/").replace("/", "_")


def make_staging(final: str) -> str:
    """A staging dir next to ``final`` (same filesystem, so the
    publish rename is atomic)."""
    os.makedirs(os.path.dirname(final), exist_ok=True)
    return tempfile.mkdtemp(prefix="staging_", dir=os.path.dirname(final))


@contextmanager
def staging_tree(final: str):
    """``make_staging`` with guaranteed failure cleanup: yields a
    staging dir next to ``final``; if the build body raises — a Spark
    write failure, a saturation guard, a marker-write OSError — the
    staging tree is removed before the exception propagates. GC never
    touches in-flight ``staging_*`` dirs (they could be another
    process's live build), so an unprotected builder failure would
    otherwise leak one partial tree per retry, every driver window
    (round-11 review finding). The happy path ends with the caller's
    ``publish_staging`` consuming the dir inside the ``with``."""
    staging = make_staging(final)
    try:
        yield staging
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise


def publish_staging(staging: str, final: str, *, marker: str, force: bool = False) -> None:
    """Atomically publish a FULLY-WRITTEN staging tree as ``final``.

    ``marker`` is the completion-marker filename the builder wrote as
    its last staging step (``meta.json`` / ``upsert_done.json``); its
    presence inside ``final`` is the won-the-race signal. On rename
    failure the staging tree is discarded and the winner's artifact is
    trusted if its marker is present (deterministic builds make the
    two trees bit-identical), else the original error propagates."""
    if force and os.path.isdir(final):
        # rename the live tree aside before the swap: readers that
        # already resolved `final` keep a consistent snapshot. The
        # trash tree is NOT reaped here — deleting it immediately
        # after the rename would tear files out of those very scans;
        # it carries a unique suffix and ages out via
        # prune_stale_keys' TRASH_GRACE_SEC window (round-9 advice).
        trash = f"{final}.trash.{os.path.basename(staging)}"
        try:
            os.rename(final, trash)
            # rename PRESERVES the dir's mtime (the original build
            # time), so an artifact older than the grace window would
            # be reaped by the very prune pass that follows this
            # publish — stamp the trash dir with the DISPLACEMENT time
            # so the grace clock starts now (the reader window the
            # rename-aside exists to protect opens at displacement,
            # not at build)
            os.utime(trash, None)
        except OSError:
            pass  # someone else already moved/removed it
    try:
        os.rename(staging, final)
    except OSError:
        shutil.rmtree(staging, ignore_errors=True)
        if not os.path.isfile(os.path.join(final, marker)):
            raise


def prune_stale_keys(final: str, sf_dir: str) -> None:
    """After a successful publish, retire sibling artifact keys for
    the SAME fixture path — superseded fingerprints from regenerated
    fixtures — and reap aged-out trash trees. Matching is by the exact
    key shape (see module docstring): other fixtures' keys — including
    ones whose flattened path extends this one — and in-flight staging
    dirs are untouched. A superseded LIVE key is never rmtree'd
    in-pass (a reader mid-scan on the just-superseded fingerprint
    would hit the same torn-files window the force-rebuild grace
    closes); it is renamed aside to a ``.trash.*`` name stamped with
    the displacement time, so ALL reader-visible trees age out
    uniformly through the one TRASH_GRACE_SEC window (round-10
    advice). Trash dirs younger than the grace are skipped so the
    pass that minted them cannot reap them."""
    version_dir = os.path.dirname(final)
    keep = os.path.basename(final)
    pat = re.compile(rf"^{re.escape(_sf_prefix(sf_dir))}_\d+_\d+(?P<trash>\.trash\..+)?$")
    now = time.time()
    try:
        names = os.listdir(version_dir)
    except OSError:
        return
    for name in names:
        m = pat.match(name)
        if m is None or name == keep:
            continue
        path = os.path.join(version_dir, name)
        if m.group("trash"):
            try:
                if now - os.path.getmtime(path) < TRASH_GRACE_SEC:
                    continue
            except OSError:
                continue  # already reaped by a concurrent pruner
            shutil.rmtree(path, ignore_errors=True)
        else:
            # superseded live key: displace, don't delete — it becomes
            # a trash tree and a LATER pass reaps it after the grace
            trash = f"{path}.trash.gc{os.getpid()}_{int(now * 1000)}"
            try:
                os.rename(path, trash)
                os.utime(trash, None)  # grace clock starts at displacement
            except OSError:
                pass  # a concurrent pruner won the rename
