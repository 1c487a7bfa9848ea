"""bloomfilter_spark — a PySpark-native distributed sketch library.

A from-scratch re-expression of the semantics of the shaia/BloomFilter
reference library (a single-node Go Bloom filter, see /root/reference) as
mergeable, associative, treeAggregate-style aggregations over Spark
DataFrames, plus the companion sketches a web-scale approximate-analytics
engine needs: HyperLogLog, count-min, KLL quantiles, and t-digest.

Design (see SURVEY.md §7):
  - sketches/   pure-numpy mergeable sketch monoids (zero/update/merge/finalize)
  - functions/  vectorized primitives: murmur3 hashing, text extraction,
                tokenization, language id, quality scoring
  - operators/  Spark-side distributed build/merge/membership/dedup/ann
  - sources/    fixture loaders + the deterministic `pages` synthesizer
  - plans/      partitioning/skew/explain helpers
  - streaming/  Structured Streaming sketch aggregation
"""

__version__ = "0.2.0"

# every Python task flushes the import caches; keep that from re-reading
# unchanged zip archives (see plans/session.py)
from bloomfilter_spark.plans.session import install_zip_cache_check

install_zip_cache_check()

from bloomfilter_spark.sketches.bloom import BloomFilter
from bloomfilter_spark.sketches.blocked import BlockedBloomFilter, blocked_bloom_factory
from bloomfilter_spark.sketches.hll import HyperLogLog
from bloomfilter_spark.sketches.cms import CountMinSketch
from bloomfilter_spark.sketches.kll import KLLSketch
from bloomfilter_spark.sketches.tdigest import TDigest

# distributed surface (imported lazily-safe: these modules only import
# pyspark, pandas, numpy — all baked into the target environment)
from bloomfilter_spark.operators.build import (
    bloom_factory,
    build_grouped,
    build_sketch,
    cms_factory,
    hll_factory,
    kll_factory,
    tdigest_factory,
)
from bloomfilter_spark.operators.membership import (
    bloom_semi_join,
    filter_might_contain,
    might_contain_udf,
)
from bloomfilter_spark.operators.build import build_sketch_weighted
from bloomfilter_spark.operators.pipeline import (
    build_multi,
    build_multi_checkpointed,
    build_suite,
)
from bloomfilter_spark.operators.checkpoint import build_sketch_checkpointed
from bloomfilter_spark.operators.membership import bloom_anti_join
from bloomfilter_spark.functions.tokenbudget import budget_by_group, token_budget
from bloomfilter_spark.functions.sqlapi import register_sql_functions
from bloomfilter_spark.operators.profile import profile_sketches, profile_table
from bloomfilter_spark.operators.drift import snapshot_drift

__all__ = [
    "BloomFilter",
    "BlockedBloomFilter",
    "blocked_bloom_factory",
    "HyperLogLog",
    "CountMinSketch",
    "KLLSketch",
    "TDigest",
    "bloom_factory",
    "hll_factory",
    "cms_factory",
    "kll_factory",
    "tdigest_factory",
    "build_sketch",
    "build_sketch_weighted",
    "build_grouped",
    "build_multi",
    "build_multi_checkpointed",
    "build_suite",
    "build_sketch_checkpointed",
    "bloom_semi_join",
    "bloom_anti_join",
    "filter_might_contain",
    "might_contain_udf",
    "token_budget",
    "budget_by_group",
    "register_sql_functions",
    "profile_table",
    "profile_sketches",
    "snapshot_drift",
]
