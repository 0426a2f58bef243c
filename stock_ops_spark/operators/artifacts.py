"""Shared plumbing for persisted model/pipeline artifacts
(fit-once-read-many: k-means centroids, minhash near-dup pairs,
PageRank ranks).

One discipline, three users:

- **cache dir** — ``$SPARK_GRAFT_MODEL_CACHE`` if set, else a
  per-user tmpdir subdirectory (uid in the name, created 0o700).  A
  fixed world-readable path would let any local user pre-create the
  directory and poison cached artifacts that are read back without
  validation; scoping by uid removes the shared-namespace attack at
  zero cost.
- **cache key** — source file identity (abspath+mtime+size) + every
  pipeline parameter + an algorithm version tag.  A rewritten source
  invalidates automatically; a semantics change must bump the v-tag in
  the caller.
- **atomic publish** — callers write to a tmp name and rename, so
  concurrent fitters race benignly and a crash never leaves a
  half-written artifact at the final path.

Parquet states that change rather than publish once (a materialized
view, a streaming fold state) are not artifacts: they publish through
their own commit log (``streaming/foldstate.py``).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile


def default_cache_dir() -> str:
    """Resolve the artifact cache dir and ensure it exists.

    ``$SPARK_GRAFT_MODEL_CACHE`` (explicit user choice) wins; otherwise
    a uid-scoped tmpdir subdirectory created with mode 0o700.
    """
    explicit = os.environ.get("SPARK_GRAFT_MODEL_CACHE")
    if explicit:
        os.makedirs(explicit, exist_ok=True)
        return explicit
    uid = os.getuid() if hasattr(os, "getuid") else "na"
    path = os.path.join(tempfile.gettempdir(), f"stock_ops_spark_models_{uid}")
    os.makedirs(path, mode=0o700, exist_ok=True)
    try:  # makedirs mode is umask-filtered and skipped for existing dirs
        os.chmod(path, 0o700)
    except OSError:
        pass
    return path


def source_identity(source_path: str) -> str:
    """File identity for the cache key: abspath+mtime+size when statable
    (single file), abspath alone for multi-file datasets."""
    try:
        st = os.stat(source_path)
        return f"{os.path.abspath(source_path)}|{st.st_mtime_ns}|{st.st_size}"
    except OSError:
        return os.path.abspath(source_path)


def cache_key(raw: str) -> str:
    """Stable short digest of the full (v-tag|identity|params) string."""
    return hashlib.sha1(raw.encode()).hexdigest()[:20]


def versioned_path(
    cache_dir: str, name: str, fam: str, ver: str, suffix: str
) -> str:
    """Path for one artifact of a VERSIONED family.

    ``fam`` identifies (source abspath + every pipeline param + v-tag)
    and stays constant across corpus rewrites; ``ver`` is the source
    file identity digest (mtime+size) and changes with every rewrite.
    Splitting the two is what makes incremental refresh possible: on a
    ``ver`` miss the builder can look for a PRIOR ver of the same fam
    and compute only the delta against it (VERDICT r5 #2), where the
    old single-digest scheme made every rewrite a from-scratch rebuild.
    """
    return os.path.join(cache_dir, f"{name}_{fam}_{ver}{suffix}")


def find_prior_version(
    cache_dir: str, name: str, fam: str, current_ver: str, suffixes: list[str]
) -> str | None:
    """Newest prior ``ver`` of family ``fam`` that has ALL ``suffixes``
    present (a half-written or half-collected version is skipped — the
    caller then falls back to a full rebuild)."""
    import re

    pat = re.compile(
        rf"^{re.escape(name)}_{re.escape(fam)}_([0-9a-f]{{20}})"
        rf"({'|'.join(re.escape(s) for s in suffixes)})$"
    )
    found: dict[str, set[str]] = {}
    mtimes: dict[str, float] = {}
    try:
        names = os.listdir(cache_dir)
    except OSError:
        return None
    for n in names:
        m = pat.match(n)
        if not m or m.group(1) == current_ver:
            continue
        ver, suf = m.group(1), m.group(2)
        found.setdefault(ver, set()).add(suf)
        try:
            mtimes[ver] = max(
                mtimes.get(ver, 0.0),
                os.path.getmtime(os.path.join(cache_dir, n)),
            )
        except OSError:
            pass
    complete = [v for v, sufs in found.items() if sufs == set(suffixes)]
    if not complete:
        return None
    return max(complete, key=lambda v: mtimes.get(v, 0.0))


def publish(df, path: str) -> None:
    """Materialize a DataFrame at ``path`` atomically (write to a tmp
    name, rename).  Concurrent fitters race benignly — the pipelines
    are deterministic, so whichever rename wins, the contents are
    identical; a crash never leaves a half-written artifact at the
    final path."""
    import uuid

    tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
    df.write.mode("overwrite").parquet(tmp)
    try:
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)  # a concurrent writer won


def gc(
    cache_dir: str | None = None,
    max_age_s: float | None = None,
    keep_latest: int | None = None,
) -> list[str]:
    """Retention sweep for the artifact cache — the maintenance half of
    the fit-once-read-many discipline.  Artifact keys embed the source
    file identity (mtime+size), so every corpus rewrite strands the
    previous version's artifacts forever; without a sweep the cache dir
    grows monotonically (same failure mode the streaming dedup index had
    before ``maintain()``).

    Policies (combinable; both None = no-op):
    - ``max_age_s``: remove artifacts whose newest contained file is
      older than this many seconds.
    - ``keep_latest``: per artifact FAMILY (the ``<name>_`` prefix before
      the key digest: neardup/containment/pagerank/kmeans), keep only
      the N most recently modified entries.

    In-flight ``*.tmp`` staging paths are never touched (a concurrent
    fitter owns them until its atomic rename).  Returns the removed
    paths.
    """
    import re
    import time as _time

    if cache_dir is None:
        cache_dir = default_cache_dir()
    pat = re.compile(r"^([a-z0-9]+)_[0-9a-f]{20}\.(parquet|json)$")
    # versioned families (artifacts.versioned_path): name_fam_ver.suffix.
    # The gc family is (name, fam, suffix) so keep_latest retains the N
    # newest VERSIONS of each series — and the pairs/state twins of one
    # version live in separate series, so keep_latest can never collect
    # one twin and strand the other (the prior-version finder requires a
    # complete suffix set anyway and skips half sets).
    vpat = re.compile(
        r"^([a-z0-9]+_[0-9a-f]{20})_[0-9a-f]{20}(\.[a-z]+\.(parquet|json))$"
    )
    # suffix-less versioned directories (bucketed twins,
    # sources/bucketing.py): name_fam_ver with the whole artifact being
    # the directory itself.
    dpat = re.compile(r"^([a-z0-9_]+_[0-9a-f]{20})_[0-9a-f]{20}$")
    entries: list[tuple[str, str, float]] = []  # (family, path, mtime)
    try:
        names = os.listdir(cache_dir)
    except OSError:
        return []
    for name in names:
        m = pat.match(name)
        if m:
            family = m.group(1)
        else:
            vm = vpat.match(name)
            dm = dpat.match(name) if not vm else None
            if vm:
                family = vm.group(1) + vm.group(2)
            elif dm and os.path.isdir(os.path.join(cache_dir, name)):
                family = dm.group(1)
            else:
                continue  # unknown layout or .tmp staging path — leave it
        path = os.path.join(cache_dir, name)
        mtime = os.path.getmtime(path)
        if os.path.isdir(path):  # parquet dirs: age = newest part file
            for root, _dirs, files in os.walk(path):
                for f in files:
                    try:
                        mtime = max(mtime, os.path.getmtime(os.path.join(root, f)))
                    except OSError:
                        pass
        entries.append((family, path, mtime))

    doomed: dict[str, None] = {}
    now = _time.time()
    if max_age_s is not None:
        for _fam, path, mtime in entries:
            if now - mtime > max_age_s:
                doomed[path] = None
    if keep_latest is not None:
        by_family: dict[str, list[tuple[float, str]]] = {}
        for fam, path, mtime in entries:
            by_family.setdefault(fam, []).append((mtime, path))
        for fam, items in by_family.items():
            items.sort(reverse=True)
            for _mtime, path in items[keep_latest:]:
                doomed[path] = None

    removed = []
    for path in doomed:
        try:
            if os.path.isdir(path):
                shutil.rmtree(path)
            else:
                os.remove(path)
            removed.append(path)
        except OSError:
            pass  # concurrent gc or permission oddity — skip, not fatal
    return sorted(removed)
