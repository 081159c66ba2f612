"""Seeded PAGES corpora written to Parquet before anything is timed.

Rows come from ``ffp_spark.datagen.synth_page`` (the row function behind
``synth_pages``): a pure function of (seed, id) with 30% of pages on five
hot domains.  Corpora are cached per seed under the work directory, so a
repeated seed reuses its files; the program only ever reads the Parquet.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from pathlib import Path

BULK_PAGES = 8_000
PARENT_PAGES = 500
DELTA_PAGES = 100
RECRAWL_PAGES = 2  # 2% of the delta re-crawls urls the parent committed
# The delta's parent snapshot is a fixed base, committed once per
# checkout: the seed varies the delta, which is what the workload times.
PARENT_SEED = 0
FILES = 8  # Parquet files per corpus, so the scan splits across cores
VERSION = "v1"


def _write(path: Path, rows: list[dict]) -> Path:
    """Write ``rows`` as ``FILES`` Parquet files under ``path``, atomically."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from ffp_spark.schemas import PAGES_SCHEMA

    schema = to_arrow_schema(PAGES_SCHEMA)
    tmp = path.with_name(f"_tmp-{path.name}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    step = -(-len(rows) // FILES)
    for k in range(FILES):
        part = rows[k * step : (k + 1) * step]
        pq.write_table(pa.Table.from_pylist(part, schema=schema), tmp / f"part-{k:02d}.parquet")
    os.replace(tmp, path)
    return path


def _pages(seed: int, ids: range) -> list[dict]:
    from ffp_spark.datagen import synth_page

    return [synth_page(seed, i) for i in ids]


def bulk_corpus(cache: Path, seed: int) -> Path:
    path = cache / f"bulk-{VERSION}-n{BULK_PAGES}-s{seed}"
    return path if path.is_dir() else _write(path, _pages(seed, range(BULK_PAGES)))


def parent_corpus(cache: Path) -> Path:
    path = cache / f"parent-{VERSION}-n{PARENT_PAGES}"
    return path if path.is_dir() else _write(path, _pages(PARENT_SEED, range(PARENT_PAGES)))


def recrawl_ids(seed: int) -> list[int]:
    """Parent page ids the delta re-crawls, distinct and seed-chosen."""
    out: list[int] = []
    k = 0
    while len(out) < RECRAWL_PAGES:
        digest = hashlib.md5(f"recrawl:{seed}:{k}".encode()).digest()
        i = int.from_bytes(digest[:8], "big") % PARENT_PAGES
        if i not in out:
            out.append(i)
        k += 1
    return out


def delta_corpus(cache: Path, seed: int) -> Path:
    """Fresh pages from ``seed + 1`` with ids past the parent's, plus
    re-crawls: new content under urls the parent already committed."""
    from ffp_spark.datagen import synth_page

    path = cache / f"delta-{VERSION}-p{PARENT_PAGES}-n{DELTA_PAGES}-s{seed}"
    if path.is_dir():
        return path
    fresh = DELTA_PAGES - RECRAWL_PAGES
    rows = _pages(seed + 1, range(PARENT_PAGES, PARENT_PAGES + fresh))
    parent_urls = [synth_page(PARENT_SEED, i)["url"] for i in recrawl_ids(seed)]
    recrawled = _pages(seed + 1, range(PARENT_PAGES + fresh, PARENT_PAGES + DELTA_PAGES))
    for row, url in zip(recrawled, parent_urls):
        row["url"] = url
    return _write(path, rows + recrawled)
