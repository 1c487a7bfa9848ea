"""Distributed sketch build/merge — the library's UDAF surface.

Lifecycle (SURVEY.md §3.4):
  1. partial build: mapInPandas over Arrow batches — each task folds its
     partition into one partition-local sketch (the Spark replacement for
     the reference's shared-mutable CAS array,
     /root/reference/bloomfilter.go:352-383) and emits one blob row with
     counters (rows, bytes, wall_ms).
  2. merge: associative combine of blobs —
       * commutative sketches (Bloom OR / HLL max / CMS sum): treeAggregate
         over the blob RDD, depth-2 merge tree, bit-identical regardless of
         merge order (the north rule's associativity requirement);
       * compaction sketches (KLL / t-digest): single n-ary merge_all of all
         partial blobs, which is a pure function of the *multiset* of
         partials (see sketches/kll.py docstring) — partial blobs are a few
         KB each, so the n-ary combine scales to tens of thousands of
         partitions.
  3. finalize: stats()/estimate()/quantile() on the merged sketch.

All hashing/bit-setting is vectorized numpy inside the UDF; no per-row
Python anywhere (input_hint, BASELINE.json:15).
"""

from __future__ import annotations

import time
from typing import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame

from bloomfilter_spark.sketches import serde
from bloomfilter_spark.sketches.bloom import BloomFilter
from bloomfilter_spark.sketches.cms import CountMinSketch
from bloomfilter_spark.sketches.freqitems import FrequentItemsSketch
from bloomfilter_spark.sketches.hll import HyperLogLog
from bloomfilter_spark.sketches.kll import KLLSketch
from bloomfilter_spark.sketches.ddsketch import DDSketch
from bloomfilter_spark.sketches.tdigest import TDigest
from bloomfilter_spark.sketches.theta import ThetaSketch

# kinds whose pairwise merge is commutative+associative (safe for any tree)
_COMMUTATIVE_KINDS = {
    serde.KIND_BLOOM,
    serde.KIND_HLL,
    serde.KIND_CMS,
    serde.KIND_THETA,  # pure function of the distinct-hash set
    serde.KIND_CBF,  # element-wise signed counter sum
    serde.KIND_DDS,  # bucket-wise counter sum
    serde.KIND_BBLOOM,  # blocked layout: same bitwise-OR merge as Bloom
}

# max blobs any single merge task (or the driver) holds at once
DEFAULT_MERGE_FANIN = 64

PARTIAL_SCHEMA = (
    "partition_id long, blob binary, rows long, input_bytes long, wall_ms double"
)


def _numeric_update(sketch, series: pd.Series) -> None:
    """KLL/t-digest/DDSketch consume float values; others consume hashed keys."""
    if isinstance(sketch, (KLLSketch, TDigest, DDSketch)):
        sketch.update(series.dropna().to_numpy(dtype="float64"))
    else:
        sketch.update(series.dropna())


def partial_build(
    df: DataFrame,
    cols: list[str] | str,
    factory: Callable[[], object],
    weight_col: str | None = None,
) -> DataFrame:
    """One blob row per input partition: (partition_id, blob, rows,
    input_bytes, wall_ms). Column pruning: we select only `cols` (plus
    weight_col when set), so the parquet scan reads nothing else.

    weight_col: each key row contributes its weight instead of 1 (CMS
    weighted updates); only valid with a single key column."""
    if isinstance(cols, str):
        cols = [cols]
    if weight_col is not None and len(cols) != 1:
        raise ValueError("weighted build takes exactly one key column")
    pruned = df.select(*cols, *([weight_col] if weight_col else []))

    def build_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        t0 = time.perf_counter()
        sk = factory()
        rows = 0
        nbytes = 0
        for pdf in batches:
            if weight_col is not None:
                clean = pdf.dropna(subset=[cols[0]])
                w = clean[weight_col].fillna(0)
                if (w < 0).any():
                    # negative weights would break the CMS overestimate-only
                    # invariant (inner_product / point-query bounds)
                    raise ValueError(
                        f"weighted build: negative weight in '{weight_col}'"
                    )
                wr = w.round()
                if not bool((wr == w).all()):
                    # silent rounding would change the counted mass
                    # (0.4 -> 0): integer counters need integer weights
                    raise TypeError(
                        f"weighted build: non-integer weights in "
                        f"'{weight_col}' — scale to integer mass upstream "
                        "(CMS counters are int64)"
                    )
                sk.update(clean[cols[0]], weights=wr.astype("int64"))
            else:
                for c in cols:
                    _numeric_update(sk, pdf[c])
            rows += len(pdf)
            nbytes += int(pdf.memory_usage(deep=False).sum())
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        yield pd.DataFrame(
            {
                "partition_id": [pid],
                "blob": [sk.to_bytes()],
                "rows": [rows],
                "input_bytes": [nbytes],
                "wall_ms": [(time.perf_counter() - t0) * 1000.0],
            }
        )

    return pruned.mapInPandas(build_iter, schema=PARTIAL_SCHEMA)


def _nary_merge(factory: Callable[[], object], sketches: list):
    """Canonical n-ary combine: fresh accumulator, merge_all when the kind
    supports it (multiset-deterministic), else sequential merge."""
    acc = factory()
    if hasattr(acc, "merge_all"):
        acc.merge_all(sketches)
    else:
        for s in sketches:
            acc.merge(s)
    return acc


def tree_merge_blobs(
    partials: DataFrame,
    factory: Callable[[], object],
    n_parts: int,
    fanin: int = DEFAULT_MERGE_FANIN,
):
    """Deterministic bounded-fan-in reduction of (partition_id, blob) rows —
    no task or driver ever holds more than `fanin` blobs (at 100 TB /
    128 MB splits P ≈ 800k partials; a driver collect() of KB-sized KLL
    blobs would be GBs of driver heap).

    Bucket composition (pid // fanin) and intra-bucket merge order (sorted
    pid) are pure functions of partition_id, so the result is a pure
    function of the {(partition_id, blob)} set and the fanin — independent
    of task scheduling, and reproducible driver-side (tree_merge_replay is
    the pytest oracle).  For compaction sketches (KLL/t-digest) a tree of
    n-ary merges is NOT bit-identical to one flat n-ary merge — the
    intermediate compaction schedules differ; both honor the published
    rank-error bound — so this canonical tree IS the defined merge semantic
    at scale.  (Reference analog: Union as the only merge operator for any
    fan-in topology, /root/reference/bloomfilter.go:196-216.)
    """
    from pyspark.sql import functions as F

    level = partials.select("partition_id", "blob")
    remaining = n_parts
    while remaining > fanin:

        def make_merge_bucket(step: int):
            def merge_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
                pdf = pdf.sort_values("partition_id")
                merged = _nary_merge(
                    factory, [serde.deserialize(b) for b in pdf["blob"]]
                )
                return pd.DataFrame(
                    {
                        "partition_id": [int(pdf["partition_id"].min()) // step],
                        "blob": [merged.to_bytes()],
                    }
                )

            return merge_bucket

        level = (
            level.withColumn(
                "_bucket", (F.col("partition_id") / fanin).cast("long")
            )
            .groupBy("_bucket")
            .applyInPandas(
                make_merge_bucket(fanin), schema="partition_id long, blob binary"
            )
        )
        remaining = -(-remaining // fanin)

    rows = level.collect()  # ≤ fanin rows by construction
    rows = sorted(rows, key=lambda r: r.partition_id)
    return _nary_merge(factory, [serde.deserialize(r.blob) for r in rows])


def tree_merge_replay(
    pairs: list[tuple[int, bytes]],
    factory: Callable[[], object],
    n_parts: int,
    fanin: int = DEFAULT_MERGE_FANIN,
):
    """Driver-side replay of tree_merge_blobs' canonical tree — the
    determinism oracle: the distributed result must be bit-identical.

    n_parts is REQUIRED and must equal what the distributed side used
    (partition count / n_buckets): the tree's round count is driven by
    that DECLARED width, not the number of non-empty rows — defaulting to
    len(pairs) would replay a shallower tree whenever ids are sparse
    (e.g. rollup buckets with few groups) and spuriously mismatch."""
    pairs = sorted(pairs)
    remaining = n_parts
    while remaining > fanin:
        buckets: dict[int, list[tuple[int, bytes]]] = {}
        for pid, blob in pairs:
            buckets.setdefault(pid // fanin, []).append((pid, blob))
        nxt = []
        for grp in buckets.values():
            grp.sort()
            merged = _nary_merge(
                factory, [serde.deserialize(b) for _, b in grp]
            )
            nxt.append((grp[0][0] // fanin, merged.to_bytes()))
        pairs = sorted(nxt)
        remaining = -(-remaining // fanin)
    return _nary_merge(factory, [serde.deserialize(b) for _, b in pairs])


def merge_partials(
    partials: DataFrame,
    factory: Callable[[], object],
    n_parts: int | None = None,
):
    """Combine partial blobs into one sketch.

    Commutative kinds (Bloom OR / HLL max / CMS sum) ride a depth-2
    treeAggregate (executor-side partial merges, 'treeAggregate-style UDAF'
    per BASELINE.json:6) — safe under any merge order.  Compaction kinds
    (KLL/t-digest) at large fan-in reduce through the deterministic
    bounded-fan-in tree (tree_merge_blobs) so no build path ever collects
    all partial blobs to the driver.  Small fan-ins (≤ DEFAULT_MERGE_FANIN
    blobs — already driver-sized) merge n-ary in canonical partition order.

    n_parts: the partition count of `partials`, when the caller knows it
    (`ensure_parallelism_counted`); reading it back from a repartitioned
    input runs the shuffle-map stage as a job of its own.
    """
    # KIND without materializing a sketch when the factory carries it
    # (all build.py factories do): factory() for a 1e9-key Bloom would
    # allocate the full ~GB words array on the driver just to read a tag
    kind = getattr(factory, "KIND", None)
    if kind is None:
        kind = factory().KIND
    if n_parts is None:
        n_parts = partials.rdd.getNumPartitions()
    if n_parts > DEFAULT_MERGE_FANIN:
        if kind in _COMMUTATIVE_KINDS:
            # zeroValue is an EMPTY sentinel, not a dense empty-sketch
            # blob: treeAggregate serializes the zero into every task
            # closure, and a 1e9-key Bloom zero is ~1.2 GB — merging with
            # "empty" is identity for every commutative kind, so b""
            # short-circuits carry the same semantics with zero bytes
            def comb(a_blob: bytes, b_blob: bytes) -> bytes:
                if not a_blob:
                    return b_blob
                if not b_blob:
                    return a_blob
                a = serde.deserialize(a_blob)
                a.merge(serde.deserialize(b_blob))
                return a.to_bytes()

            merged_blob = (
                partials.select("blob")
                .rdd.map(lambda r: r.blob)
                .treeAggregate(b"", comb, comb, depth=2)
            )
            if not merged_blob:  # zero partials: an empty build
                return factory()
            return serde.deserialize(merged_blob)
        return tree_merge_blobs(partials, factory, n_parts)
    # small fan-in: single bounded collect beats extra tree stages
    rows = partials.select("partition_id", "blob").collect()
    rows.sort(key=lambda r: r.partition_id)
    return _nary_merge(factory, [serde.deserialize(r.blob) for r in rows])


def build_sketch(
    df: DataFrame,
    cols: list[str] | str,
    factory: Callable[[], object],
    weight_col: str | None = None,
):
    """End-to-end: scan → per-partition vectorized partial build → merge.
    Returns the merged sketch object.

    Narrow inputs (a small file = 1 split) are fanned out to the cluster
    first; partial_build itself always respects the caller's partitioning
    (checkpointing relies on that contract)."""
    from bloomfilter_spark.plans.skew import ensure_parallelism_counted

    parted, n_parts = ensure_parallelism_counted(df)
    if parted is df:
        # no repartition: n_parts was read before partial_build pruned the
        # columns, and AQE may coalesce the pruned plan's shuffles to
        # another count — let merge_partials read the partials' own
        n_parts = None
    return merge_partials(
        partial_build(parted, cols, factory, weight_col), factory, n_parts
    )


def build_sketch_with_deletes(
    inserts_df: DataFrame,
    deletes_df: DataFrame,
    key_col: str,
    factory: Callable[[], object],
):
    """Distributed counting-Bloom build with deletes (the one operation the
    plain bitset can never do).  Inserts and deletes are unioned into one
    signed-delta stream, so a delete needs NO co-location with its insert:
    a partition folding only the delete emits a legal negative delta
    partial, and the commutative counter-sum merge restores non-negativity
    globally (deletes ⊆ inserts contract; violations surface as
    negative_cells() > 0 on the merged filter).  One scan over each input,
    one treeAggregate — identical topology to build_sketch."""
    from pyspark.sql import functions as F

    from bloomfilter_spark.plans.skew import ensure_parallelism_counted

    signed = (
        inserts_df.select(F.col(key_col).alias("__key"), F.lit(1).alias("__delta"))
        .unionAll(
            deletes_df.select(
                F.col(key_col).alias("__key"), F.lit(-1).alias("__delta")
            )
        )
    )
    signed, n_parts = ensure_parallelism_counted(signed)

    def build_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        t0 = time.perf_counter()
        sk = factory()
        rows = 0
        nbytes = 0
        for pdf in batches:
            clean = pdf.dropna(subset=["__key"])
            sk.update_signed(clean["__key"], clean["__delta"].to_numpy())
            rows += len(pdf)
            nbytes += int(pdf.memory_usage(deep=False).sum())
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        yield pd.DataFrame(
            {
                "partition_id": [pid],
                "blob": [sk.to_bytes()],
                "rows": [rows],
                "input_bytes": [nbytes],
                "wall_ms": [(time.perf_counter() - t0) * 1000.0],
            }
        )

    partials = signed.mapInPandas(build_iter, schema=PARTIAL_SCHEMA)
    return merge_partials(partials, factory, n_parts)


def build_sketch_weighted(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    factory: Callable[[], object],
):
    """Weighted distributed build (CMS): each key row adds `weight_col`
    instead of 1.  Same partial-blob + merge path as build_sketch."""
    return build_sketch(df, key_col, factory, weight_col=weight_col)


# ---------------------------------------------------------------------------
# Grouped sketches: one sketch per key, with optional salting for skew
# ---------------------------------------------------------------------------


def build_grouped(
    df: DataFrame,
    key_cols: list[str] | str,
    value_col: str,
    factory: Callable[[], object],
    salts: int = 0,
) -> DataFrame:
    """Per-key sketch blobs: (key..., blob, rows).

    salts=0: single groupBy(key).applyInPandas — one shuffle on key.
    salts=s>0 (skew defense, north rule): two-stage aggregation —
      stage 1 groups by (key, hash(value) % s) so a hot key fans out over s
      tasks building partial sketches; stage 2 merges the ≤s partials per
      key. This is map-side-combine semantics expressed as sketches, the
      salted-repartition pattern the north rule names.

    Sizing salts: a stage-1 task holds ONE (key, salt) cell's values
    (~hot_key_rows/salts × 8 B for numerics), so pick salts ≥
    hot_key_rows / 10^7 to keep the hottest cell under ~100 MB — e.g. a
    10^9-row host needs salts≈128.  Cold keys are unaffected (their s
    partials are tiny).  Commutative sketches give bit-identical results
    for ANY salts value; compaction sketches are bit-identical run-to-run
    for a FIXED salts (the value is part of the canonical merge schedule).

    Determinism: shuffle FETCH order is not stable across runs, so both the
    rows inside a group and the ≤s partials per key can arrive in any
    order.  Commutative sketches (Bloom/HLL/CMS) don't care; the compaction
    sketches (KLL/t-digest) do.  We canonicalize both: group values are
    sorted before the fold, and salted partials carry their `_salt` and are
    merged in salt order — so a grouped build is a pure function of each
    group's value multiset, run-to-run and schedule-to-schedule.
    """
    from pyspark.sql import functions as F

    if isinstance(key_cols, str):
        key_cols = [key_cols]
    key_schema_src = df.select(*key_cols).schema
    key_ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in key_schema_src)
    out_schema = f"{key_ddl}, blob binary, rows long"
    partial_schema = f"{key_ddl}, `_salt` bigint, blob binary, rows long"

    def build_group(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = factory()
        _numeric_update(sk, pdf[value_col].sort_values(kind="stable"))
        out = {c: [pdf[c].iloc[0]] for c in key_cols}
        out["blob"] = [sk.to_bytes()]
        out["rows"] = [len(pdf)]
        return pd.DataFrame(out)

    if salts <= 1:
        return (
            df.select(*key_cols, value_col)
            .groupBy(*key_cols)
            .applyInPandas(build_group, schema=out_schema)
        )

    salted = df.select(*key_cols, value_col).withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(value_col)), F.lit(salts))
    )

    def build_salted(pdf: pd.DataFrame) -> pd.DataFrame:
        out = build_group(pdf.drop(columns=["_salt"]))
        out.insert(len(key_cols), "_salt", [int(pdf["_salt"].iloc[0])])
        return out

    partials = salted.groupBy(*key_cols, "_salt").applyInPandas(
        build_salted, schema=partial_schema
    )

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_salt")  # canonical partial order
        acc = factory()
        sketches = [serde.deserialize(b) for b in pdf["blob"]]
        if hasattr(acc, "merge_all"):
            acc.merge_all(sketches)
        else:
            for s in sketches:
                acc.merge(s)
        out = {c: [pdf[c].iloc[0]] for c in key_cols}
        out["blob"] = [acc.to_bytes()]
        out["rows"] = [int(pdf["rows"].sum())]
        return pd.DataFrame(out)

    return partials.groupBy(*key_cols).applyInPandas(merge_group, schema=out_schema)


def rollup_grouped(
    grouped_blobs: DataFrame,
    key_cols: list[str] | str,
    factory: Callable[[], object],
    n_buckets: int = 1024,
    fanin: int = DEFAULT_MERGE_FANIN,
):
    """Roll the per-key blobs of build_grouped up into ONE merged sketch —
    the finer aggregate answers the coarser query without rescanning the
    base table (hypertable-rollup payoff) — WITHOUT collecting the per-group
    blobs to the driver (a per-host key at 10^12 docs is ~10^8 groups).

    Stage 1 buckets groups by pmod(xxhash64(key), n_buckets) and merges each
    bucket's blobs in canonical (key_str, blob) order; stage 2 reduces the
    bucket sketches through the same deterministic bounded-fan-in tree as
    merge_partials, with bucket id as the ordering key.  Every stage's
    grouping and ordering is a pure function of the group keys, so the
    rollup is a pure function of the {(key, blob)} set + (n_buckets, fanin):
    bit-identical run-to-run regardless of scheduling.  For commutative
    sketches (Bloom/HLL/CMS) it is additionally bit-identical to a direct
    global build; compaction sketches (KLL/t-digest) follow the canonical
    tree semantic (see tree_merge_blobs) and honor their rank-error bound.

    Sizing n_buckets: a stage-1 task holds ONE bucket's blobs in memory
    (~n_groups/n_buckets × blob bytes), so pick n_buckets ≥ n_groups ×
    blob_kb / 100_000 to keep a bucket under ~100 MB — the 1024 default
    covers ~10^7 KB-sized groups; a 10^8-group per-host rollup should pass
    n_buckets≈16384.  Empty buckets cost nothing; oversizing only adds a
    cheap extra tree round, so round up.
    """
    from pyspark.sql import functions as F

    if isinstance(key_cols, str):
        key_cols = [key_cols]
    key_str = F.concat_ws(
        "\x1f", *[F.col(c).cast("string") for c in key_cols]
    )
    bucketed = grouped_blobs.select(
        key_str.alias("__key_str"), "blob"
    ).withColumn(
        "__bucket", F.pmod(F.xxhash64(F.col("__key_str")), F.lit(n_buckets))
    )

    def merge_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        # (key_str, blob) sort fully canonicalizes even hash-equal keys
        pdf = pdf.sort_values(["__key_str", "blob"], kind="stable")
        merged = _nary_merge(
            factory, [serde.deserialize(b) for b in pdf["blob"]]
        )
        return pd.DataFrame(
            {
                "partition_id": [int(pdf["__bucket"].iloc[0])],
                "blob": [merged.to_bytes()],
            }
        )

    partials = bucketed.groupBy("__bucket").applyInPandas(
        merge_bucket, schema="partition_id long, blob binary"
    )
    return tree_merge_blobs(partials, factory, n_buckets, fanin=fanin)


def rollup_regroup(
    grouped_blobs: DataFrame,
    fine_key_cols: list[str] | str,
    coarse_col: str,
    factory: Callable[[], object],
) -> DataFrame:
    """Merge fine-group sketch blobs into COARSER groups (day → week,
    host → domain, shard → tenant) in ONE applyInPandas pass — the
    hierarchy rollup that `rollup_grouped` (all groups → one sketch)
    doesn't cover.

    Per coarse group, blobs merge in canonical (fine_key_str, blob) order
    — a pure function of the data, bit-deterministic under any
    scheduling.  Task memory holds one coarse group's blobs (hierarchy
    fan-ins are small: 7 days/week, ~10² hosts/domain); a pathological
    fan-in belongs in `rollup_grouped`'s bucketed tree instead.

    Returns (coarse_col, blob) — feed `grouped_estimates` or roll up
    again for the next hierarchy level.
    """
    from pyspark.sql import functions as F

    if isinstance(fine_key_cols, str):
        fine_key_cols = [fine_key_cols]
    key_str = F.concat_ws(
        "\x1f", *[F.col(c).cast("string") for c in fine_key_cols]
    )
    coarse_type = dict(grouped_blobs.dtypes)[coarse_col]
    src = grouped_blobs.select(
        F.col(coarse_col), key_str.alias("__fine"), "blob"
    )

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["__fine", "blob"], kind="stable")
        merged = _nary_merge(
            factory, [serde.deserialize(b) for b in pdf["blob"]]
        )
        return pd.DataFrame(
            {coarse_col: [pdf[coarse_col].iloc[0]], "blob": [merged.to_bytes()]}
        )

    return src.groupBy(coarse_col).applyInPandas(
        merge, schema=f"`{coarse_col}` {coarse_type}, blob binary"
    )


def rollup_sliding(
    grouped_blobs: DataFrame,
    unit_col: str,
    window: int,
    factory: Callable[[], object],
) -> DataFrame:
    """TRAILING-window merge of per-unit sketch blobs: for each unit u,
    merge the blobs of units (u−window+1 .. u) — the WAU/MAU shape
    (trailing 7-day distinct users, 30-day heavy hitters) that tumbling
    `rollup_regroup` can't express because its windows overlap.

    This is the payoff of mergeable sketches: the trailing answer for
    EVERY unit comes from re-merging the tiny per-unit blobs (window × a
    few KB each — sparse HLL blobs are bytes), never from re-scanning
    the raw events.  Plan: each blob fans out to the `window` trailing
    units it participates in (an explode over a literal offset range —
    shuffle volume is window × the blob relation, independent of the
    event count), then the same canonical-order merge as rollup_regroup.
    Units with no blob of their own still get no row (a silent day
    reports through its neighbors' windows, not as its own unit), which
    mirrors the GROUP BY of the SQL replay.

    `unit_col` must be an integer period index (day/hour number).
    Returns (unit_col, n_units, blob): n_units = how many source units
    actually fed the window — window heads cover fewer (warm-up); filter
    on it if only complete windows are wanted.
    """
    from pyspark.sql import functions as F

    if window < 1:
        # F.sequence(u, u-1) would silently generate a DESCENDING range,
        # attributing blobs to earlier units instead of erroring
        raise ValueError(f"rollup_sliding: window must be >= 1, got {window}")
    # NULL units are dropped EXPLICITLY (a null endpoint makes F.sequence
    # null and the explode silently emits nothing — the blob would vanish
    # from every window with no trace); a unit-less blob has no place on
    # the time axis, same skip-NULL-keys policy as the sketch builds
    src = grouped_blobs.filter(F.col(unit_col).isNotNull()).select(
        F.col(unit_col).cast("long").alias("__u"), "blob"
    )
    fanned = src.select(
        F.explode(
            F.sequence(F.col("__u"), F.col("__u") + F.lit(int(window) - 1))
        ).alias("__target"),
        F.col("__u").alias("__fine"),
        "blob",
    )
    # a trailing window is only reported for units that exist themselves
    units = src.select(F.col("__u").alias("__target")).distinct()
    fanned = fanned.join(units, "__target")

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["__fine", "blob"], kind="stable")
        merged = _nary_merge(
            factory, [serde.deserialize(b) for b in pdf["blob"]]
        )
        return pd.DataFrame(
            {
                "__target": [pdf["__target"].iloc[0]],
                "n_units": [pdf["__fine"].nunique()],
                "blob": [merged.to_bytes()],
            }
        )

    return (
        fanned.groupBy("__target")
        .applyInPandas(merge, schema="__target long, n_units long, blob binary")
        .withColumnRenamed("__target", unit_col)
    )


def grouped_estimates(grouped_blobs: DataFrame, finalize: str = "estimate") -> DataFrame:
    """Map per-key blobs to per-key scalar estimates:
    finalize ∈ {estimate (HLL), popcount/estimated_fpp (Bloom), ...}."""
    from pyspark.sql import functions as F, types as T

    @F.pandas_udf(T.DoubleType())
    def _finalize(blobs: pd.Series) -> pd.Series:
        return blobs.map(lambda b: float(getattr(serde.deserialize(b), finalize)()))

    return grouped_blobs.withColumn(finalize, _finalize("blob"))


# convenient factories ---------------------------------------------------------


def _tag(fn, cls):
    """Attach the sketch-kind tag so merge paths can learn KIND without
    materializing an instance (a 1e9-key Bloom is ~GB)."""
    fn.KIND = cls.KIND
    return fn


def bloom_factory(n: int, p: float = 0.01, seed=None):
    from bloomfilter_spark.functions.hashing import DEFAULT_SEED

    s = DEFAULT_SEED if seed is None else seed
    # validate + size ONCE on the driver, but capture only the scalars:
    # a prototype filter in the closure would pickle its full zero words
    # array into every executor's task binary (1.2 GB at n=1e9)
    proto = BloomFilter.create(n, p, seed=s)
    m, k = proto.m, proto.k
    return _tag(lambda: BloomFilter(m, k, s), BloomFilter)


def cbf_factory(n: int, p: float = 0.01, seed=None):
    from bloomfilter_spark.functions.hashing import DEFAULT_SEED
    from bloomfilter_spark.sketches.cbf import CountingBloomFilter

    s = DEFAULT_SEED if seed is None else seed
    proto = CountingBloomFilter.create(n, p, seed=s)
    m, k = proto.m, proto.k
    return _tag(lambda: CountingBloomFilter(m, k, s), CountingBloomFilter)  # scalars only (see above)


def hll_factory(precision: int = 14, seed=None):
    from bloomfilter_spark.functions.hashing import DEFAULT_SEED

    s = DEFAULT_SEED if seed is None else seed
    return _tag(lambda: HyperLogLog(p=precision, seed=s), HyperLogLog)


def cms_factory(epsilon: float = 0.0005, delta: float = 0.001, seed=None):
    from bloomfilter_spark.functions.hashing import DEFAULT_SEED

    s = DEFAULT_SEED if seed is None else seed
    proto = CountMinSketch.create(epsilon, delta, seed=s)
    depth, width = proto.depth, proto.width
    return _tag(lambda: CountMinSketch(depth, width, s), CountMinSketch)  # scalars only (see above)


def kll_factory(k: int = 200):
    return _tag(lambda: KLLSketch(k=k), KLLSketch)


def freqitems_factory(capacity: int = 4096):
    return _tag(lambda: FrequentItemsSketch(capacity), FrequentItemsSketch)


def theta_factory(k: int = 16384, seed=None):
    from bloomfilter_spark.functions.hashing import DEFAULT_SEED

    s = DEFAULT_SEED if seed is None else seed
    return _tag(lambda: ThetaSketch(k, seed=s), ThetaSketch)


def tdigest_factory(delta: int = 200):
    return _tag(lambda: TDigest(delta=delta), TDigest)


def dds_factory(alpha: float = 0.01):
    return _tag(lambda: DDSketch(alpha=alpha), DDSketch)
