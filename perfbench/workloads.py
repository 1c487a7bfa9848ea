"""The benchmark workloads, and the layer sweep of the traced run.

Each workload has
  prepare()  untimed set-up after the session is up (the warm calls);
  op()       one timed call; returns the items it delivered;
  checks()   correctness gates, run outside the timed region, as
             (name, ok, detail) triples;
  layers()   the per-layer measurements of a traced run.

WORKLOADS are the ones `--workload` selects.  SWEEP adds `bloom_antijoin`
and `suite_resume`, which only the traced run executes: their layer metrics
and gates are measured, but they have no timed workload of their own.

Why each workload exists, and which end-to-end metric each layer metric
should move, is in README.md next to this file.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import statistics
import time

import numpy as np
import pandas as pd

from inputs import (
    FIXTURES,
    SLICE_ROWS,
    absent_urls,
    compressed_bytes,
    piece_range,
    read_columns,
)

FPP = 0.01
# timed rounds of the cumulative L0-L3 split in a traced run
LEVEL_ROUNDS = 5


def _rows(seed: int, pieces: str) -> int:
    return sum(piece_range(seed, p)[1] - piece_range(seed, p)[0] for p in pieces)


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _rate(fn, n_items: int, min_s: float = 0.2) -> float:
    """Items per second of an in-process call, repeated for at least min_s
    and at least three times; the median repetition counts."""
    times = []
    t_end = time.perf_counter() + min_s
    while len(times) < 3 or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return n_items / statistics.median(times)


class Workload:
    name = ""
    # untimed calls before the timed loop, so that it starts from a warm JIT
    warm_calls = 1
    # the timed loop makes at least this many calls, however long they take
    min_calls = 5
    # whether a traced run that selected another workload warms this one
    # before its layer sweep
    sweep_warm = True

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark

    def prepare(self) -> None:
        for _ in range(self.warm_calls):
            self.op()

    def op(self) -> int:
        raise NotImplementedError

    def timed(self) -> list[tuple[float, int]]:
        """(seconds, items) of each timed call made by one step of the
        timed loop."""
        t0 = time.perf_counter()
        items = self.op()
        return [(time.perf_counter() - t0, items)]

    def checks(self) -> list[tuple[str, bool, str]]:
        return []

    def layers(self) -> dict[str, float]:
        return {}

    def traced_op(self) -> tuple[float, dict]:
        """One op under its own job group: (seconds, scheduler counts)."""
        with self.ctx.groups.group(self.name) as counts:
            t0 = time.perf_counter()
            self.op()
            dt = time.perf_counter() - t0
        return dt, counts

    def _spark_counts(self, counts: dict) -> dict[str, float]:
        return {f"spark.{self.name}.{k}": counts[k] for k in ("jobs", "stages", "tasks")}


# ---------------------------------------------------------------------------


class SuiteBuild(Workload):
    """`build_suite` over the seed's slice in the standard raw-text layout."""

    name = "suite_build"
    warm_calls = 3

    def __init__(self, ctx):
        super().__init__(ctx)
        self.paths = [ctx.slice_paths[p] for p in "abc"]
        self.df = self.spark.read.parquet(*self.paths)
        self.suite = None
        self.split: dict[str, float] | None = None

    def op(self) -> int:
        from bloomfilter_spark.operators.pipeline import build_suite

        with self.ctx.tracer.span("pipeline.build_suite"):
            self.suite = build_suite(self.df, n_expected=SLICE_ROWS)
        return SLICE_ROWS

    def _truth(self) -> pd.DataFrame:
        from bloomfilter_spark.operators.pipeline import with_page_features

        return (
            with_page_features(self.df)
            .select("url", "host", "lang", "text_len")
            .toPandas()
        )

    def checks(self):
        s = self.suite
        pdf = self._truth()
        n = len(pdf)
        out = []
        rng = np.random.default_rng(self.ctx.seed)
        sample = pdf.url.to_numpy()[rng.choice(n, size=min(n, 20_000), replace=False)]
        fn = int((~s["bloom_url"].contains(pd.Series(sample))).sum())
        out.append(("suite.bloom_url.false_negatives", fn == 0, f"{fn} of {len(sample)}"))
        absent = absent_urls(self.ctx.seed, 20_000)
        fpp = float(s["bloom_url"].contains(pd.Series(absent)).mean())
        out.append(("suite.bloom_url.fpp", fpp <= 2 * FPP, f"{fpp:.4f} <= {2 * FPP}"))
        for name, col in (("hll_url", "url"), ("hll_host", "host")):
            exact = pdf[col].nunique()
            est = s[name].estimate()
            # four standard errors, the same gate as tests/test_pages.py
            bound = 4 * s[name].relative_error
            err = abs(est - exact) / exact
            out.append((f"suite.{name}.error", err <= bound, f"{err:.5f} <= {bound:.5f}"))
        cms = s["cms_lang"]
        exact = pdf.lang.value_counts()
        est = cms.query(pd.Series(exact.index.to_list()))
        over = est - exact.to_numpy()
        ok = bool((over >= 0).all() and (over <= cms.error_bound()).all())
        out.append(("suite.cms_lang.overestimate", ok, f"max over {int(over.max())} <= {cms.error_bound():.1f}"))
        tl = np.sort(pdf.text_len.to_numpy())
        qs = np.array([0.01, 0.25, 0.5, 0.75, 0.99])
        for name in ("kll_textlen", "tdigest_textlen"):
            est = np.asarray(s[name].quantile(qs), dtype=float)
            lo = np.searchsorted(tl, est, side="left") / n
            hi = np.searchsorted(tl, est, side="right") / n
            eps = s["kll_textlen"].rank_error()
            ok = bool(((qs >= lo - eps) & (qs <= hi + eps)).all())
            out.append((f"suite.{name}.rank_error", ok, f"eps {eps:.4f}"))
        if self.split is not None:
            # the cumulative series scan, +handoff, +fold, +merge must rise
            # at every step, or the split does not describe the build
            ok = all(v > 0 for v in self.split.values())
            detail = ", ".join(f"{k.split('.')[1]} {v:.3f}" for k, v in self.split.items())
            out.append(("suite.layers_monotone", ok, detail))
        for k, sk in sorted(s.items()):
            digest = hashlib.sha256(sk.to_bytes()).hexdigest()
            self.ctx.record.setdefault("blob_sha256", {})[k] = digest
        return out

    def layers(self):
        """The L0-L3 layer split (README.md), then in-process kernel rates."""
        from bloomfilter_spark.functions.hashing import hash_any
        from bloomfilter_spark.operators import pipeline
        from bloomfilter_spark.operators.pipeline import (
            pages_suite_specs,
            with_page_features,
        )
        from bloomfilter_spark.plans.skew import ensure_parallelism

        specs = pages_suite_specs(SLICE_ROWS)
        names = list(specs)
        cols = sorted({c for c, _ in specs.values()})
        factories = {n: f for n, (_, f) in specs.items()}
        col_of = {n: c for n, (c, _) in specs.items()}
        feats = ensure_parallelism(with_page_features(self.df).select(*cols))
        tr = self.ctx.tracer

        def identity(batches):
            yield from batches

        def fold_pack(batches):
            import time

            import pyarrow as pa
            from pyspark import TaskContext

            # read the partition first, so that the time taken below is the
            # fold and the pack alone, not the scan and handoff they wait on
            batches = list(batches)
            t0 = time.perf_counter()
            sks, rows = pipeline._fold_partition(batches, names, factories, col_of)
            out = {"partition_id": [TaskContext.get().partitionId()]}
            out.update({n: [pipeline._pack(sks[n])] for n in names})
            out["rows"] = [rows]
            out["fold_pack_s"] = [time.perf_counter() - t0]
            yield pa.RecordBatch.from_pydict(out)

        blob_cols = ", ".join(f"`{n}` binary" for n in names)
        blob_schema = f"partition_id long, {blob_cols}, rows long"
        par = self.spark.sparkContext.defaultParallelism

        def timed(label, fn, times: list[float]):
            with tr.span(f"pipeline.{label}"):
                t0 = time.perf_counter()
                out = fn()
                times.append(time.perf_counter() - t0)
            return out

        # the levels run round-robin, LEVEL_ROUNDS times each, so a drift of
        # the box hits all of them alike; each figure is a median over rounds
        l0, l1, l2, l3, fold, merge = [], [], [], [], [], []
        l2_schema = f"{blob_schema}, fold_pack_s double"
        for _ in range(LEVEL_ROUNDS):
            timed("L0_scan_project", lambda: _noop_write(feats), l0)
            timed(
                "L1_arrow_handoff",
                lambda: _noop_write(feats.mapInArrow(identity, schema=feats.schema)),
                l1,
            )
            partials = timed(
                "L2_fold_pack", lambda: feats.mapInArrow(fold_pack, schema=l2_schema).toPandas(), l2
            )
            partials = partials.sort_values("partition_id", ignore_index=True)
            # task-seconds of the fold, spread over the cores it ran on
            fold.append(partials.pop("fold_pack_s").sum() / min(len(partials), par))
            blobs = self.spark.createDataFrame(partials, schema=blob_schema)
            timed(
                "merge_tree",
                lambda: pipeline._merge_tree(
                    blobs, blob_schema, names, factories, len(partials), None, par
                ),
                merge,
            )
            dt, counts = self.traced_op()
            l3.append(dt)
        self.split = {
            "pipeline.scan_project_s": statistics.median(l0),
            "pipeline.arrow_handoff_s": statistics.median(b - a for a, b in zip(l0, l1)),
            "pipeline.fold_pack_s": statistics.median(fold),
            "pipeline.merge_s": statistics.median(merge),
        }
        # the cumulative levels themselves, comparable with ROADMAP's table
        self.ctx.record["suite_levels_s"] = [statistics.median(t) for t in (l0, l1, l2, l3)]
        m = dict(self.split)
        m.update(self._spark_counts(counts))
        if self.ctx.workload == self.name:
            m["trace.op_s"] = statistics.median(l3)

        read_cols = ["url", "lang", "text"]
        m["sources.input_bytes_per_doc"] = compressed_bytes(self.paths, read_cols) / SLICE_ROWS

        # kernel rates on one partition's worth of the slice's own keys
        n_part = max(1, SLICE_ROWS // len(partials))
        tbl = read_columns(self.paths, ["url"]).slice(0, n_part)
        urls = tbl.column("url").combine_chunks()
        ids = np.arange(*piece_range(self.ctx.seed, "a"), dtype=np.int64)[:n_part]
        feat_pdf = (
            with_page_features(self.df).select("host", "text_len").limit(n_part).toPandas()
        )
        import pyarrow as pa

        hosts = pa.array(feat_pdf.host, type=pa.string())
        lens = feat_pdf.text_len.to_numpy(dtype="float64")
        with tr.span("hashing.hash_any"):
            m["hashing.hash_any_str_keys_per_s"] = _rate(lambda: hash_any(urls, 0), n_part)
            m["hashing.hash_any_i64_keys_per_s"] = _rate(lambda: hash_any(ids, 0), n_part)
        kinds = {
            "bloom": ("bloom_url", lambda sk: sk.update(urls)),
            "hll": ("hll_url", lambda sk: sk.update(urls)),
            "cms": ("cms_host", lambda sk: sk.update(hosts)),
            "freqitems": ("freq_host", lambda sk: sk.update_arrow(hosts)),
            "kll": ("kll_textlen", lambda sk: sk.update(lens)),
            "tdigest": ("tdigest_textlen", lambda sk: sk.update(lens)),
            "dds": ("dds_textlen", lambda sk: sk.update(lens)),
        }
        with tr.span("sketches.update"):
            for kind, (spec, upd) in kinds.items():
                m[f"sketches.{kind}.update_keys_per_s"] = _rate(
                    lambda: upd(factories[spec]()), n_part
                )
        with tr.span("sketches.unpack_merge"):
            t0 = time.perf_counter()
            merged = pipeline._nary_merge_pdf(partials, names, factories)
            m["sketches.unpack_merge_s"] = time.perf_counter() - t0
        unpacked = [pipeline._unpack(b) for n in names for b in partials[n]]
        with tr.span("sketches.pack"):
            t0 = time.perf_counter()
            for sk in unpacked:
                pipeline._pack(sk)
            m["sketches.pack_s"] = time.perf_counter() - t0
        m["sketches.suite_blob_bytes_raw"] = sum(len(sk.to_bytes()) for sk in merged.values())
        m["sketches.suite_blob_bytes_packed"] = sum(
            len(pipeline._pack(sk)) for sk in merged.values()
        )
        return m


# ---------------------------------------------------------------------------


class BloomAntiJoin(Workload):
    """Incremental dedup: probe pages whose url is not in the corpus."""

    name = "bloom_antijoin"
    warm_calls = 2

    def __init__(self, ctx):
        super().__init__(ctx)
        sp = ctx.slice_paths
        self.corpus = self.spark.read.parquet(sp["a"], sp["b"]).select("url")
        self.probe = self.spark.read.parquet(sp["b"], sp["c"]).select("url", "lang", "text")
        self.n_corpus = _rows(ctx.seed, "ab")
        self.n_probe = _rows(ctx.seed, "bc")
        self.n_overlap = _rows(ctx.seed, "b")

    def _novel(self):
        from bloomfilter_spark.operators.membership import bloom_anti_join

        return bloom_anti_join(self.probe, "url", self.corpus, "url", n_expected=self.n_corpus)

    def op(self) -> int:
        with self.ctx.tracer.span("membership.bloom_anti_join"):
            _noop_write(self._novel())
        return self.n_probe

    def checks(self):
        got = set(self._novel().select("url").toPandas().url)
        want = set(
            self.probe.join(self.corpus, on="url", how="left_anti").select("url").toPandas().url
        )
        return [
            (
                "antijoin.novel_equals_left_anti",
                got == want and len(want) == self.n_probe - self.n_overlap,
                f"{len(got)} novel, left_anti {len(want)}",
            )
        ]

    def layers(self):
        from bloomfilter_spark.operators.build import bloom_factory, build_sketch
        from bloomfilter_spark.operators.membership import filter_might_contain

        tr = self.ctx.tracer
        m = {}
        with tr.span("build.build_sketch"):
            t0 = time.perf_counter()
            bloom = build_sketch(self.corpus, "url", bloom_factory(self.n_corpus, FPP))
            m["build.build_sketch_s"] = time.perf_counter() - t0
        cand = filter_might_contain(self.probe, "url", bloom)
        with tr.span("membership.filter"):
            t0 = time.perf_counter()
            _noop_write(cand)
            m["membership.filter_s"] = time.perf_counter() - t0
        n_cand = cand.count()
        m["membership.candidate_ratio"] = n_cand / self.n_probe
        m["membership.useful_ratio"] = self.n_overlap / n_cand
        m["sketches.bloom.fpp_observed"] = (n_cand - self.n_overlap) / (
            self.n_probe - self.n_overlap
        )
        sp = self.ctx.slice_paths
        present = read_columns([sp["b"]], ["url"]).column("url").combine_chunks()
        absent = read_columns([sp["c"]], ["url"]).column("url").combine_chunks()
        with tr.span("sketches.bloom.contains"):
            m["sketches.bloom.contains_present_keys_per_s"] = _rate(
                lambda: bloom.contains(present), len(present)
            )
            m["sketches.bloom.contains_absent_keys_per_s"] = _rate(
                lambda: bloom.contains(absent), len(absent)
            )
        dt, counts = self.traced_op()
        m.update(self._spark_counts(counts))
        m["membership.anti_join_s"] = dt
        with tr.span("ref.spark_left_anti"):
            t0 = time.perf_counter()
            _noop_write(self.probe.join(self.corpus, on="url", how="left_anti"))
            m["ref.spark_left_anti_s"] = time.perf_counter() - t0
        return m


# ---------------------------------------------------------------------------

# A fixed subset of the graded 50, picked from one measured pass of all 50
# (README.md, "The timed catalog subset"); one pass of all 50 takes about a
# minute on a 4-CPU box, more than one run's budget.  The subset holds the
# three heaviest-job queries that run at or under the window's 0.13 s per
# job, so that work on job and stage counts shows in the timed pass;
# dedup_ngram_jaccard, which reads the n-gram pair cache; and the TPC-H
# scan/aggregate of queries.py.  The traced run adds the other two of the
# five heaviest-job queries and the streaming query, for their job counts
# and oracle gates only.
CATALOG_QUERIES = (
    "snapshot_drift",
    "bloom_skip_lookup",
    "lm_perplexity",
    "dedup_ngram_jaccard",
    "lineitem_pricing_summary",
)
CATALOG_TRACED_ONLY = ("dedup_incremental", "decontaminate_ngrams", "streaming_sessions")
CATALOG_SF = "sf0.01"
WARM_SF = "sf0.001"


def reset_catalog_caches() -> None:
    """Drop the process-lifetime caches of queries_dataops, so no timed pass
    reads state that an earlier pass left behind."""
    from bloomfilter_spark import queries_dataops as qd

    for _, pairs in qd._PAIRS_CACHE.values():
        pairs.unpersist()
    qd._PAIRS_CACHE.clear()
    qd._cleanup_stage_cache()


class CatalogGraded(Workload):
    """Passes over the graded-query subset at sf0.01, after warm passes."""

    name = "catalog_graded"
    warm_calls = 1
    # a pass takes about 7 s on a 4-CPU box: three fill a 20 s run
    min_calls = 3
    # its layer metrics are exact counts, which warm calls do not change
    sweep_warm = False

    def __init__(self, ctx):
        super().__init__(ctx)
        from bloomfilter_spark.queries import QUERIES

        self.all_queries = QUERIES
        self.sf_dir = os.path.join(FIXTURES, CATALOG_SF)
        self.results: dict[str, pd.DataFrame] = {}
        self.jobs: dict[str, dict] = {}

    def run_pass(self, sf_dir: str, queries=CATALOG_QUERIES) -> list[float]:
        reset_catalog_caches()
        times = []
        for q in queries:
            fn = self.all_queries[q]
            with self.ctx.groups.group(q) as counts, self.ctx.tracer.span(f"catalog.{q}"):
                t0 = time.perf_counter()
                self.results[q] = fn(self.spark, sf_dir).toPandas()
                times.append(time.perf_counter() - t0)
            self.jobs[q] = counts
        self.ctx.record.setdefault("catalog_query_s", []).append(dict(zip(queries, times)))
        return times

    def prepare(self) -> None:
        # the sf0.001 pass compiles every query shape; the untimed sf0.01
        # passes then bring the JIT close to the state the timed passes see
        self.run_pass(os.path.join(FIXTURES, WARM_SF))
        for _ in range(self.warm_calls):
            self.run_pass(self.sf_dir)

    def timed(self) -> list[tuple[float, int]]:
        # one pass over the subset is one timed call: the mix of a few
        # queries of very different lengths makes a per-query median jumpy
        times = self.run_pass(self.sf_dir)
        return [(sum(times), len(times))]

    def checks(self):
        import duckdb
        from bloomfilter_spark.queries import ORACLES
        from scripts.check_oracle import TABLES, canon

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.sf_dir, t)}.parquet'"
            )
        out = []
        for q in self.results:
            got = canon(self.results[q])
            want = canon(con.execute(ORACLES[q]).df())
            ok = list(got.columns) == list(want.columns) and got.astype(str).equals(
                want.astype(str)
            )
            out.append((f"catalog.{q}.oracle", ok, f"{len(got)} rows vs {len(want)}"))
        con.close()
        return out

    def layers(self):
        tr = self.ctx.tracer
        m = {}
        with tr.span("catalog.pass"):
            times = self.run_pass(self.sf_dir)
        self.run_pass(self.sf_dir, CATALOG_TRACED_ONLY)
        for k in ("jobs", "stages", "tasks"):
            m[f"catalog.{k}"] = sum(c[k] for c in self.jobs.values())
        for q, c in self.jobs.items():
            m[f"catalog.{q}.jobs"] = c["jobs"]
        if self.ctx.workload == self.name:
            m["trace.op_s"] = sum(times)
        m["catalog.canary_s"] = self.ctx.canary_s()
        return m


# ---------------------------------------------------------------------------


class SuiteResume(Workload):
    """Resume of a checkpointed suite build after a quarter of its partials
    were lost."""

    name = "suite_resume"

    def __init__(self, ctx):
        super().__init__(ctx)
        from bloomfilter_spark.operators.pipeline import (
            pages_suite_specs,
            with_page_features,
        )

        df = self.spark.read.parquet(*[ctx.slice_paths[p] for p in "abc"])
        self.feats = with_page_features(df)
        self.specs = pages_suite_specs(SLICE_ROWS)
        self.ckpt = os.path.join(ctx.work_dir, "ckpt")
        self.lost: list[int] = []
        self.merged = None
        self.lineage = None

    def _build(self):
        from bloomfilter_spark.operators.pipeline import build_multi_checkpointed

        return build_multi_checkpointed(self.feats, self.specs, self.ckpt)

    def _partials(self) -> list[int]:
        return sorted(
            int(f[len("partial-"):-len(".bin")])
            for f in os.listdir(self.ckpt)
            if f.startswith("partial-") and f.endswith(".bin")
        )

    def _lose(self, pids: list[int]) -> None:
        for pid in pids:
            for f in (f"partial-{pid:06d}.bin", f"lineage-{pid:06d}.json"):
                os.remove(os.path.join(self.ckpt, f))

    def prepare(self) -> None:
        shutil.rmtree(self.ckpt, ignore_errors=True)
        with self.ctx.tracer.span("checkpoint.full_build"):
            self._build()
        pids = self._partials()
        self.lost = sorted(random.Random(self.ctx.seed).sample(pids, max(1, len(pids) // 4)))
        super().prepare()

    def op(self) -> int:
        self._lose(self.lost)
        with self.ctx.tracer.span("checkpoint.resume"):
            self.merged, self.lineage = self._build()
        return SLICE_ROWS

    def _rebuilt(self) -> pd.DataFrame:
        lin = self.lineage.toPandas()
        return lin[~lin.resumed]

    def checks(self):
        from bloomfilter_spark.operators.pipeline import build_multi

        ref = build_multi(self.feats, self.specs)
        same = [n for n in self.specs if self.merged[n].to_bytes() == ref[n].to_bytes()]
        rebuilt = sorted(self._rebuilt().partition_id.astype(int))
        return [
            ("resume.bit_identical", len(same) == len(self.specs), f"{len(same)}/{len(self.specs)} sketches"),
            ("resume.rebuilt_exactly_lost", rebuilt == self.lost, f"rebuilt {rebuilt}, lost {self.lost}"),
        ]

    def layers(self):
        tr = self.ctx.tracer
        m = {}
        shutil.rmtree(self.ckpt, ignore_errors=True)
        with tr.span("checkpoint.build"):
            t0 = time.perf_counter()
            self._build()
            m["checkpoint.build_s"] = time.perf_counter() - t0
        m["checkpoint.partial_bytes"] = sum(
            os.path.getsize(os.path.join(self.ckpt, f"partial-{p:06d}.bin"))
            for p in self._partials()
        )
        dt, counts = self.traced_op()
        m.update(self._spark_counts(counts))
        m["checkpoint.resume_s"] = dt
        rebuilt = self._rebuilt()
        m["checkpoint.rebuilt_partitions"] = len(rebuilt)
        m["checkpoint.reread_input_bytes"] = int(rebuilt.input_bytes.sum())
        with tr.span("checkpoint.reload_merge"):
            t0 = time.perf_counter()
            self._build()
            m["checkpoint.reload_merge_s"] = time.perf_counter() - t0
        return m


WORKLOADS = {w.name: w for w in (SuiteBuild, CatalogGraded)}
SWEEP = {**WORKLOADS, **{w.name: w for w in (BloomAntiJoin, SuiteResume)}}
