"""Analytics phase: registry queries over the generated star schema.

One cold pass per query: construct, execute, and collect the result to the
driver, as a first-time user sees it. Then warm passes to the noop sink under
the prepared-plan rule of ``bench.py``: a query whose construction ran no
Spark job reuses its prepared DataFrame; one whose construction executes
(iterative refinement, write round-trips) pays construction in every run.
Afterwards, outside the timed passes, each collected cold-pass result is
compared with the DuckDB oracle by the repository's parity harness
(``plans.parity.compare_frames``, the comparison inside ``check_query``).
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench.gen import write_analytics_dir

#: The timed query set: at least one query from every registry module, chosen
#: so that set-up, one cold pass, a few warm passes and the oracle checks fit a
#: run. Covers scans, projection/filter, scalar functions, joins (including the
#: co-bucketed layout), windows, aggregates, set ops, subqueries, the CDC batch
#: queries, windowed streaming equivalents, Python UDFs and the LLM-data ops.
QUERIES: tuple[str, ...] = (
    "q01_scan_full",
    "q09_like_regex",
    "q44_struct_map",
    "q13b_join_cobucketed",
    "q31_ranking",
    "q22_hash_agg_tpch_q1",
    "q37_union",
    "q47_scalar_subquery",
    "q52_upsert_compaction",
    "s2_tumbling_window",
    "u1_python_udf",
    "l9_train_split",
    "l3_cosine_topk",
    "l5_text_stats",
    "m1_multimodal_meta",
)

#: generated data size (fraction of TPC-H SF1 row counts)
SCALE = 0.005


def module_of(spec) -> str:
    """Registry module of a query, without the package prefix."""
    return spec.spark_fn.__module__.split(".", 1)[1]


class Analytics:
    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.src_dir = os.path.join(work, "analytics_src")
        self.data_dir = ""  # the layout mirror the timed queries read
        self.setup_s: dict[str, float] = {}
        self.rows: dict[str, int] = {}
        self.construct: dict[str, float] = {}
        self.cold: dict[str, float] = {}
        self.warm: dict[str, list[float]] = {}
        self.jobs: dict[str, int] = {}
        self.reused: dict[str, bool] = {}
        self.errors: dict[str, str] = {}
        self.results: dict = {}  # cold-pass results, checked against the oracle
        self.attempted = 0

    def _timed(self, key: str, span: str, fn, *a, **kw):
        t0 = time.perf_counter()
        with self.tracer.span(span):
            out = fn(*a, **kw)
        self.setup_s[key] = self.setup_s.get(key, 0.0) + time.perf_counter() - t0
        return out

    def setup(self) -> None:
        """Generate the tables, mirror them through the scan-parallel layout,
        pre-touch the catalog and build the co-bucketed fact tables."""
        from olr_cdc_oracle_with_dbz_spark.catalog import TABLES, Catalog
        from olr_cdc_oracle_with_dbz_spark.operators import storage
        from olr_cdc_oracle_with_dbz_spark.sources import layout

        self.rows = self._timed("datagen_s", "gen.analytics", write_analytics_dir,
                                self.src_dir, self.seed, SCALE)
        self.data_dir = self._timed(
            "optimize_dir_s", "layout.optimize_dir", layout.optimize_dir,
            self.src_dir, cache_root=os.path.join(self.work, "layout"))
        cat = Catalog(self.spark, self.data_dir)

        def pretouch():
            for t in TABLES:
                cat.table(t)

        self._timed("pretouch_s", "catalog.pretouch", pretouch)
        self._timed("ensure_cobucketed_facts_s", "storage.ensure_cobucketed_facts",
                    storage.ensure_cobucketed_facts, self.spark, self.data_dir)

    def run(self, passes: int) -> None:
        """Cold pass, then ``passes`` warm passes."""
        from olr_cdc_oracle_with_dbz_spark.registry import load_all

        registry = load_all()
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        prepared = {}
        with self.tracer.span("analytics.cold_pass", root=True):
            for name in QUERIES:
                spec = registry[name]
                grp = f"perfbench-{name}"
                mod = module_of(spec)
                self.attempted += 1
                try:
                    sc.setJobGroup(grp, grp, interruptOnCancel=False)
                    t0 = time.perf_counter()
                    with self.tracer.span(f"{mod}.construct"):
                        df = spec.spark_fn(self.spark, self.data_dir)
                    t1 = time.perf_counter()
                    pure = len(tracker.getJobIdsForGroup(grp)) == 0
                    with self.tracer.span(f"{mod}.execute"):
                        self.results[name] = df.toPandas()
                    t2 = time.perf_counter()
                    self.jobs[name] = len(tracker.getJobIdsForGroup(grp))
                except Exception as ex:  # a failing query is counted, not fatal
                    self.errors[name] = f"cold: {ex}"[:300]
                    continue
                finally:
                    sc.setJobGroup(None, None)
                self.construct[name] = t1 - t0
                self.cold[name] = t2 - t0
                self.reused[name] = pure
                if pure:
                    prepared[name] = df
        with self.tracer.span("analytics.warm_passes", root=True):
            for _ in range(passes):
                for name in QUERIES:
                    if name in self.errors:
                        continue
                    spec = registry[name]
                    mod = module_of(spec)
                    self.attempted += 1
                    try:
                        t0 = time.perf_counter()
                        df = prepared.get(name)
                        if df is None:
                            with self.tracer.span(f"{mod}.construct"):
                                df = spec.spark_fn(self.spark, self.data_dir)
                        with self.tracer.span(f"{mod}.execute"):
                            df.write.format("noop").mode("overwrite").save()
                        self.warm.setdefault(name, []).append(time.perf_counter() - t0)
                    except Exception as ex:
                        self.errors[name] = f"warm: {ex}"[:300]

    def check(self) -> list[str]:
        """Compare every collected cold-pass result that has an oracle with
        DuckDB over the same generated files; returns the names that failed."""
        from olr_cdc_oracle_with_dbz_spark.plans.parity import compare_frames, duckdb_connect
        from olr_cdc_oracle_with_dbz_spark.registry import load_all

        registry = load_all()
        con = duckdb_connect(self.src_dir)
        bad = []
        try:
            for name in QUERIES:
                oracle = registry[name].oracle
                if oracle is None or name not in self.results:
                    continue
                self.attempted += 1
                try:
                    ok, msg = compare_frames(self.results[name], con.execute(oracle).df())
                except Exception as ex:
                    ok, msg = False, str(ex)[:300]
                if not ok:
                    self.errors[name] = f"oracle: {msg}"[:300]
                    bad.append(name)
        finally:
            con.close()
        return bad

    def warm_median(self) -> dict[str, float]:
        return {n: statistics.median(v) for n, v in self.warm.items()}
