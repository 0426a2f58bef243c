"""Type-widening migration for the store's parquet files.

The reference learns a previously-untyped column's true affinity and
rebuilds the table opportunistically
(``src/stockops/data/database/sql_db.py:69-173``, ``_migrate_table_schema``).
A parquet store meets the same debt as files whose physical column types
conflict (the NONE→REAL / int-then-float case that breaks a
``mergeSchema`` read):

- :func:`scan_type_conflicts` — footer-only scan (pyarrow, no data IO)
  naming the columns whose files disagree and the widened type;
- :func:`widen_types` — cast-rewrite ONLY those files to the widened
  type, in place, distributed over executors.

File names are unchanged, so ``ManifestStore.widen_types`` runs this
under a manifest without touching the log.  Compaction and retention are
manifest commits (``ManifestStore.compact`` / ``retain_before``).

Scale posture: widening touches only the minority files that disagree
with the widened schema — at 100 TB it never rewrites the whole store.
"""

from __future__ import annotations

import os
import uuid


def _data_files(path: str) -> list[str]:
    out = []
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                out.append(os.path.join(dirpath, f))
    return out


_WIDEN_ORDER = {
    "null": 0,
    "bool": 1,
    "int8": 2,
    "int16": 3,
    "int32": 4,
    "int64": 5,
    "float": 6,
    "double": 7,
}


def _widened(types: set[str]) -> str:
    """Widest type of a conflicting set, along the numeric affinity chain
    (the reference's NONE→INTEGER→REAL ladder, sql_db.py:69-173)."""
    known = [t for t in types if t in _WIDEN_ORDER]
    if len(known) != len(types):
        bad = types - set(_WIDEN_ORDER)
        raise TypeError(f"cannot widen non-numeric type conflict: {sorted(types)} ({bad})")
    top = max(known, key=_WIDEN_ORDER.__getitem__)
    # integer + float32 must widen past float32: float can't hold all int64
    if top == "float" and any(t.startswith("int") for t in known):
        return "double"
    return top


def scan_type_conflicts(store, mode: str) -> dict[str, dict]:
    """Per-column physical types across all files of the dataset, flagging
    columns whose files disagree.  Footer-only reads (pyarrow), no data IO.
    Returns {col: {"types": {...}, "widened": t, "files": [paths needing rewrite]}}.
    """
    import pyarrow.parquet as pq

    per_col: dict[str, dict[str, list[str]]] = {}
    for f in _data_files(store.data_path(mode)):
        schema = pq.read_schema(f)
        for name, typ in zip(schema.names, schema.types):
            per_col.setdefault(name, {}).setdefault(str(typ), []).append(f)
    out = {}
    for col, by_type in per_col.items():
        if len(by_type) <= 1:
            continue
        widened = _widened(set(by_type))
        need = sorted(p for t, ps in by_type.items() if t != widened for p in ps)
        out[col] = {"types": set(by_type), "widened": widened, "files": need}
    return out


def widen_types(store, mode: str) -> dict:
    """Cast-rewrite only the files whose physical types sit below the
    widened type, so a subsequent ``mergeSchema`` read succeeds.

    Distributed: the per-file rewrite (pyarrow read→cast→atomic replace)
    runs as Spark tasks over the file list — the driver touches metadata
    only.  Row order inside each file is preserved, so the (ticker, ts)
    clustering and therefore row-group pruning survive the migration.
    Returns {"columns": {col: widened}, "files_rewritten": n}.
    """
    conflicts = scan_type_conflicts(store, mode)
    if not conflicts:
        return {"columns": {}, "files_rewritten": 0}

    # file → {col: widened arrow type string}
    plans: dict[str, dict[str, str]] = {}
    for col, info in conflicts.items():
        for f in info["files"]:
            plans.setdefault(f, {})[col] = info["widened"]

    def rewrite(item):
        import json

        import pyarrow as pa
        import pyarrow.parquet as pq

        path, casts = item
        arrow = {
            "bool": pa.bool_(),
            "int8": pa.int8(),
            "int16": pa.int16(),
            "int32": pa.int32(),
            "int64": pa.int64(),
            "float": pa.float32(),
            "double": pa.float64(),
        }
        spark_type = {
            "bool": "boolean",
            "int8": "byte",
            "int16": "short",
            "int32": "integer",
            "int64": "long",
            "float": "float",
            "double": "double",
        }
        table = pq.read_table(path)
        fields = [
            f.with_type(arrow[casts[f.name]]) if f.name in casts else f
            for f in table.schema
        ]
        # Spark trusts its own schema stashed in the footer key-value
        # metadata over the physical parquet types — rewrite it too, or the
        # mergeSchema read keeps seeing the old type.
        meta = dict(table.schema.metadata or {})
        key = b"org.apache.spark.sql.parquet.row.metadata"
        if key in meta:
            row_md = json.loads(meta[key])
            for fld in row_md.get("fields", []):
                if fld.get("name") in casts:
                    fld["type"] = spark_type[casts[fld["name"]]]
            meta[key] = json.dumps(row_md).encode()
        table = table.cast(pa.schema(fields, metadata=meta))
        tmp = f"{path}.widen-{uuid.uuid4().hex[:8]}.tmp"
        pq.write_table(table, tmp, compression="zstd")
        os.replace(tmp, path)  # atomic per file
        # drop the stale Hadoop checksum sidecar (local fs): content changed
        crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        return path

    sc = store.spark.sparkContext
    done = sc.parallelize(list(plans.items()), max(1, len(plans))).map(rewrite).collect()
    # in-place content change: invalidate cached file statuses / schemas
    store.spark.catalog.refreshByPath(store.data_path(mode))
    return {
        "columns": {c: i["widened"] for c, i in conflicts.items()},
        "files_rewritten": len(done),
    }
