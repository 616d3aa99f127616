"""Content digest of a built index: proves two builds wrote the same index.
Usage: python tools/index_digest.py <index_dir>

Prints one sha256 per table of the base and of every delta segment —
``blocks`` (every BLOCKS_SCHEMA column plus ``term_bucket``),
``term_stats``, ``doc_lens`` and ``meta.json`` — over rows sorted
independently of the file layout, then the parquet file count per
``term_bucket``. Run-dependent meta keys (walls, rates, timestamps) are
left out; paths such as ``corpus_path`` are kept, so compare builds made
at the same paths."""

from __future__ import annotations

import glob
import hashlib
import json
import os
import sys

import pyarrow.dataset as ds

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cs_search_engine_architecture_spark.operators.indexer import (  # noqa: E402
    BLOCKS_SCHEMA,
)

BLOCK_COLS = [c.split()[0] for c in BLOCKS_SCHEMA.split(", ")] + ["term_bucket"]
VOLATILE = {
    "build_wall_sec", "postings_per_sec", "phase_walls", "encode_mode",
    "wall_sec", "completed_at_unix",
}


def _strip(obj):
    if isinstance(obj, dict):
        return {k: _strip(v) for k, v in obj.items() if k not in VOLATILE}
    if isinstance(obj, list):
        return [_strip(v) for v in obj]
    return obj


def table_digest(path: str, columns: list[str] | None = None) -> str:
    if not os.path.isdir(path):
        return "absent"
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    cols = columns or sorted(t.column_names)
    rows = sorted(repr(r) for r in zip(*(t.column(c).to_pylist() for c in cols)))
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
    return h.hexdigest()


def main(index: str) -> None:
    segments = [index] + sorted(glob.glob(os.path.join(index, "delta_[0-9]*")))
    for seg in segments:
        name = "base" if seg == index else os.path.basename(seg)
        print(f"{name}/blocks", table_digest(os.path.join(seg, "blocks"), BLOCK_COLS))
        for table in ("term_stats", "doc_lens"):
            print(f"{name}/{table}", table_digest(os.path.join(seg, table)))
        with open(os.path.join(seg, "meta.json")) as fh:
            meta = json.dumps(_strip(json.load(fh)), sort_keys=True)
        print(f"{name}/meta.json", hashlib.sha256(meta.encode()).hexdigest())
        files = {}
        for f in glob.glob(os.path.join(seg, "blocks", "term_bucket=*", "*.parquet")):
            bucket = int(os.path.basename(os.path.dirname(f)).split("=", 1)[1])
            files[bucket] = files.get(bucket, 0) + 1
        print(f"{name}/files_per_bucket", json.dumps(dict(sorted(files.items()))))


if __name__ == "__main__":
    main(sys.argv[1])
