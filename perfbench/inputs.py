"""Seeded benchmark inputs.

Pages come from the library's deterministic generator
(`bloomfilter_spark.sources.pages`), where every row is a pure function of
its id.  The seed picks a disjoint id range of one logical table whose size
is held fixed, so the host pool (1% of the table) and the Zipf host skew are
the same for every seed; only the rows differ.

A seed's slice of SLICE_ROWS ids is written as three parquet pieces:

    a = [0, 50%)   b = [50%, 55%)   c = [55%, 100%)   (offsets in the slice)

`suite_build` and `suite_resume` scan a+b+c.  `bloom_antijoin` uses a+b as
the corpus and b+c as the probe, so 10% of the probe's urls (piece b) are
already in the corpus.  Pieces are cached per seed under the work
directory; generating them is input preparation and is timed apart from
the program's set-up.

The catalog reads the read-only seed-42 fixture tables shipped in
`fixtures/`; the seed does not change them.
"""

from __future__ import annotations

import os
import shutil
import time

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURES = os.path.join(HERE, "fixtures")

TABLE_ROWS = 2_000_000  # logical table: fixes the host pool and its skew
SLICE_ROWS = 100_000
PIECES = {"a": (0.0, 0.50), "b": (0.50, 0.55), "c": (0.55, 1.0)}
# cached seeds kept on disk (about 95 MB each); older ones are evicted
MAX_CACHED_SEEDS = 12


def slice_start(seed: int) -> int:
    if seed < 0:
        raise ValueError(f"--seed must be >= 0, got {seed}")
    return seed * SLICE_ROWS


def piece_range(seed: int, piece: str) -> tuple[int, int]:
    lo, hi = PIECES[piece]
    start = slice_start(seed)
    return start + int(lo * SLICE_ROWS), start + int(hi * SLICE_ROWS)


def ensure_slice(spark, seed: int, cache_dir: str) -> tuple[dict[str, str], float]:
    """Parquet paths of the seed's pieces and the seconds spent generating
    them (0 when cached)."""
    from bloomfilter_spark.sources.pages import ensure_pages, pages_table_path

    t0 = time.perf_counter()
    paths = {}
    for piece in PIECES:
        lo, hi = piece_range(seed, piece)
        paths[piece] = pages_table_path(hi - lo, lo, TABLE_ROWS)
        if not os.path.exists(os.path.join(paths[piece], "_SUCCESS")):
            _evict_old_slices(cache_dir, keep=set(paths.values()))
        ensure_pages(spark, hi - lo, None, lo, TABLE_ROWS)
        os.utime(paths[piece])
    return paths, time.perf_counter() - t0


def ensure_catalog_pages(spark) -> float:
    """The 10k-page table the catalog's pages queries and their oracles
    read; seconds spent generating it (0 when cached)."""
    from bloomfilter_spark.queries_dataops import _PAGES_SUITE_ROWS
    from bloomfilter_spark.sources.pages import ensure_pages

    t0 = time.perf_counter()
    ensure_pages(spark, _PAGES_SUITE_ROWS)
    return time.perf_counter() - t0


def _evict_old_slices(cache_dir: str, keep: set[str]) -> None:
    tag = f"_t{TABLE_ROWS}_"
    dirs = [
        os.path.join(cache_dir, d)
        for d in os.listdir(cache_dir)
        if d.startswith("pages_n") and tag in d
    ] if os.path.isdir(cache_dir) else []
    dirs = sorted((d for d in dirs if d not in keep), key=os.path.getmtime)
    excess = len(dirs) - (MAX_CACHED_SEEDS - 1) * len(PIECES)
    for d in dirs[: max(0, excess)]:
        shutil.rmtree(d, ignore_errors=True)


def parquet_files(paths: list[str]) -> list[str]:
    return [
        os.path.join(p, f)
        for p in paths
        for f in sorted(os.listdir(p))
        if f.endswith(".parquet")
    ]


def read_columns(paths: list[str], columns: list[str]):
    """Driver-side pyarrow read of slice columns, for the in-process layer
    measurements."""
    import pyarrow.dataset as ds

    return ds.dataset(parquet_files(paths), format="parquet").to_table(columns=columns)


def compressed_bytes(paths: list[str], columns: list[str]) -> int:
    """Compressed parquet bytes of `columns` over every file of `paths`,
    from the footers: an exact count."""
    import pyarrow.parquet as pq

    total = 0
    for f in parquet_files(paths):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                if col.path_in_schema in columns:
                    total += col.total_compressed_size
    return total


def absent_urls(seed: int, n: int) -> list[str]:
    """Well-formed page urls that no seed's slice contains: their ids start
    at 2**62, far past the id range of any seed."""
    base = 1 << 62
    return [f"https://site{i % 97 + 1}.example.com/p{base + seed * n + i}" for i in range(n)]
