"""The benchmark's workloads. Each one has:

- `prepare(ctx)`: make the inputs from the seed (excluded from set-up time);
- `setup(ctx)`: set the engine up and check its outputs (set-up time);
- `run_pass(ctx, tracer, index)`: one timed unit, returning `ops`
  (operation -> wall) and `rows_out` (rows the pass produced); set-up ends
  with `warm_passes` untimed ones (negative `index`);
- `finish(ctx)`: checks on what the timed passes left behind;
- `instrument(ctx, tracer)` and `layer_metrics(ctx, tracer, passes, groups)`:
  the wrappers of a traced run and the per-layer metrics read from its spans
  and from the event log folded per span (`spans.fold_event_log`).
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

import tables
from bronze import GOLD_TABLES, BronzeGenerator
from spans import PLAN_NODES, Tracer

STAR_QUERIES = (
    "q_agg_latest_price", "q_scd_detect", "q_lookup_join", "q_star_split",
    "q_antijoin_new", "q_surrogate_key", "q_union_all", "q_topk",
    "q_window_rank", "q_asof_join", "q_revenue_topk", "q_star_join",
    "q_cdc_apply", "q_bucketed_join", "q_tumbling_window", "q_json_unwrap",
)
# curate_batch's funnel, as named in its lineage
CURATE_STAGES = ("url_dedup", "line_filter", "gopher", "classifier",
                 "exact_dedup", "near_dup", "decontaminate", "shard")
SIMILARITY_QUERIES = (
    "q_minhash_lsh_pairs", "q_ngram_jaccard", "q_lsh_recall",
    "q_candidate_precision", "q_band_tuning", "q_containment_pairs",
    "q_setsim_join", "q_embedding_dup", "q_decontaminate", "q_dedup_clusters",
)


def _per_pass(tracer: Tracer, passes: list[dict], name: str,
              value=lambda s: s["end"] - s["start"]) -> float:
    """Median over passes of the per-pass sum of `value` over spans `name`."""
    sums = []
    for p in passes:
        ids = tracer.descendants(p["span"])
        sums.append(sum(value(s) for s in tracer.spans
                        if s["name"] == name and s["id"] in ids))
    return statistics.median(sums)


class QueryMix:
    """Declared queries over the generated test tables, each run cold
    (`clearCache` first) through the noop sink, in a seeded order per pass.
    Set-up collects every query once and compares it with the digest of its
    DuckDB oracle, which also builds the engine's materialized artifacts in
    this run's fresh cache.

    A traced pass splits each query's wall at two points: when the query
    function has returned its DataFrame (`build_s` before it) and when the
    noop write's SQL execution starts, which Spark posts once the write has
    planned the query (`optimize_s` before it, `exec_s` after it). The
    operator counts come from the plan that execution ran."""

    def __init__(self, names: tuple[str, ...], sf: float, nominal_s: float,
                 warm_passes: int):
        self.names, self.sf, self.nominal_s = names, sf, nominal_s
        self.warm_passes = warm_passes

    def prepare(self, ctx) -> None:
        self.data = ctx.path("data")
        tables.generate(self.data, self.sf)
        self.rng = np.random.default_rng(ctx.seed)
        self.rows: dict[str, int] = {}

    def setup(self, ctx) -> None:
        import __spark_entry__ as entry

        self.queries = entry.queries()
        oracles = entry.oracle_sql()
        with ctx.generating():
            self.expected = tables.expected_digests(
                self.data, {n: oracles[n] for n in self.names}, ctx.cache)
        for name in self.names:
            ctx.spark.catalog.clearCache()
            try:
                pdf = self.queries[name](ctx.spark, self.data).toPandas()
                got = tables.digest(pdf)
                self.rows[name] = len(pdf)
            except Exception as exc:  # noqa: BLE001 — counted as failed
                got = f"{type(exc).__name__}: {exc}"
            ctx.check(got == self.expected[name],
                      f"{name}: {got} != oracle {self.expected[name]}")

    def run_pass(self, ctx, tracer: Tracer, index: int) -> dict:
        spark = ctx.spark
        ops = {}
        for name in map(str, self.rng.permutation(self.names)):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            try:
                with tracer.span("plans.query", query=name) as rec:
                    df = self.queries[name](spark, self.data)
                    if rec is not None:
                        rec.update(build_s=time.perf_counter() - rec["start"],
                                   built_at=time.time())
                    df.write.format("noop").mode("overwrite").save()
                    if rec is not None:
                        rec["done_at"] = time.time()
            except Exception as exc:  # noqa: BLE001 — counted as failed
                ctx.check(False, f"{name} raised {type(exc).__name__}: {exc}")
                continue
            ops[name] = time.perf_counter() - t0
            ctx.check(True, name)
        return {"ops": ops,
                "rows_out": sum(self.rows.get(n, 0) for n in ops)}

    def finish(self, ctx) -> None:
        pass

    def instrument(self, ctx, tracer: Tracer) -> None:
        pass

    def layer_metrics(self, ctx, tracer: Tracer, passes: list[dict],
                      groups: dict) -> dict:
        for s in tracer.spans:
            if s["name"] != "plans.query" or "done_at" not in s:
                continue
            # the write's execution: the first to start after the DataFrame
            # was built (event times are whole milliseconds)
            write = next(
                e for e in groups[f"span-{s['id']}"]["executions"]
                if e["start_s"] >= s["built_at"] - 0.001)
            s.update(optimize_s=write["start_s"] - s["built_at"],
                     exec_s=s["done_at"] - write["start_s"],
                     **{k: write[k] for k in PLAN_NODES})
        out = {}
        for key in ("build_s", "optimize_s", "exec_s", *PLAN_NODES):
            out[f"plans.{key}"] = _per_pass(
                tracer, passes, "plans.query", lambda s, k=key: s.get(k, 0))
        return out


class Medallion:
    """The daily medallion job, `jobs.run_pipeline.run`, on seeded bronze.

    A pass is an initial load into an empty gold followed by `days`
    incremental days, each pass into a gold of its own. Each day's returned
    append counts are checked against the generator's, and the gold left by
    the last pass against their sums.
    """

    def __init__(self, products: int, days: int, nominal_s: float,
                 warm_passes: int):
        self.products, self.days = products, days
        self.nominal_s, self.warm_passes = nominal_s, warm_passes

    def prepare(self, ctx) -> None:
        gen = BronzeGenerator(ctx.seed, self.products)
        self.expected, self.bronze_rows = [], []
        for d in range(self.days + 1):
            self.expected.append(gen.day(self._bronze(ctx, d), d))
            self.bronze_rows.append(gen.product_rows())

    @staticmethod
    def _bronze(ctx, d: int) -> str:
        return ctx.path("bronze", f"day{d:02d}")

    def setup(self, ctx) -> None:
        pass

    def run_pass(self, ctx, tracer: Tracer, index: int) -> dict:
        from telecom_competitor_analysis_spark.jobs import run_pipeline

        self.root = root = ctx.path(f"pass{index}")
        ops = {}
        for d in range(self.days + 1):
            t0 = time.perf_counter()
            with tracer.span("jobs.run_pipeline.run", day=d):
                counts = run_pipeline.run(ctx.spark, self._bronze(ctx, d),
                                          f"{root}/silver", f"{root}/gold")
            ops[f"day{d}"] = time.perf_counter() - t0
            ctx.check(counts == self.expected[d],
                      f"day {d}: run() returned {counts}, "
                      f"expected {self.expected[d]}")
        return {"ops": ops,
                "rows_out": sum(sum(e.values()) for e in self.expected)}

    def finish(self, ctx) -> None:
        for table in GOLD_TABLES + ("logs",):
            want = (self.days + 1 if table == "logs"
                    else sum(e[table] for e in self.expected))
            got = ctx.spark.read.parquet(f"{self.root}/gold/{table}").count()
            ctx.check(got == want, f"gold {table}: {got} rows, expected {want}")

    def instrument(self, ctx, tracer: Tracer) -> None:
        from telecom_competitor_analysis_spark.jobs import run_pipeline

        in_run = lambda *a, **k: tracer.current() == "jobs.run_pipeline.run"
        for attr, name in (("read_wrapped_json", "sources.read_wrapped_json"),
                           ("clean_products", "jobs.clean.clean_products"),
                           ("plan_star_appends", "jobs.load.plan_star_appends"),
                           ("write_gold", "sources.write_gold")):
            tracer.wrap(run_pipeline, attr, name)
        # the silver write and the count() of each gold append are inline in
        # run(): wrap the DataFrame API calls they make, inside run() only
        df = ctx.spark.range(0)
        tracer.wrap(type(df.write), "parquet", "sources.silver_write",
                    when=lambda w, path, *a, **k: in_run() and "/silver" in path)
        tracer.wrap(type(df), "count", "operators.merge.exec", when=in_run)

    def layer_metrics(self, ctx, tracer: Tracer, passes: list[dict],
                      groups: dict) -> dict:
        runs = [s for s in tracer.spans if s["name"] == "jobs.run_pipeline.run"]
        self_s = {s["id"]: tracer.self_time(s, keep=("operators.merge.exec",))
                  for s in runs}
        gold = os.path.join(self.root, "gold")
        files = [os.path.join(r, f) for r, _, fs in os.walk(gold) for f in fs
                 if f.endswith(".parquet")]
        appended = [sum(e[t] for t in ("products", "features",
                                       "product_prices"))
                    for e in self.expected]
        history = [e["features"] + e["product_prices"] for e in self.expected]
        out = {
            f"{name}_s": _per_pass(tracer, passes, name)
            for name in ("sources.read_wrapped_json", "sources.silver_write",
                         "sources.write_gold", "jobs.clean.clean_products",
                         "jobs.load.plan_star_appends", "operators.merge.exec")
        }
        out.update({
            "jobs.run_pipeline.self_s": _per_pass(
                tracer, passes, "jobs.run_pipeline.run",
                lambda s: self_s[s["id"]]),
            "jobs.run_pipeline.spark_jobs": statistics.mean(
                sum(groups.get(f"span-{i}", {}).get("jobs", 0)
                    for i in tracer.descendants(s)) for s in runs),
            "sources.gold_files": len(files),
            "sources.bytes_written": sum(os.path.getsize(f) for f in files),
            "operators.merge.history_rows": sum(history[:-1]),
            "jobs.load.append_frac":
                sum(appended[1:]) / sum(self.bronze_rows[1:]),
        })
        return out


class Curate:
    """`jobs.curate.curate_batch` over the generated documents with
    `curate.main`'s conventions: a synthetic crawl URL per document and a 1%
    eval set, here the documents whose id modulo 100 equals the seed modulo
    100; shards are written as parquet.

    `curate.main` runs one job per process, so users pay the engine's
    warm-up on every run: the timed pass is the first job of the process and
    set-up is only the session. Each pass's funnel is checked for
    consistency and against the URL-dedup survivor count computed here, and
    the shards of the last pass are checked after timing."""

    warm_passes = 0

    def __init__(self, sf: float, nominal_s: float, n_shards: int = 8):
        self.sf, self.nominal_s, self.n_shards = sf, nominal_s, n_shards

    def prepare(self, ctx) -> None:
        import pyarrow.parquet as pq

        self.data = ctx.path("data")
        tables.generate(self.data, self.sf)
        ids = pq.read_table(f"{self.data}/documents.parquet",
                            columns=["doc_id"])["doc_id"].to_numpy()
        self.eval_mod = ctx.seed % 100
        corpus = ids[ids % 100 != self.eval_mod]
        self.eval_ids = set(ids[ids % 100 == self.eval_mod].tolist())
        self.n_corpus = len(corpus)
        # curate.main's URL depends on (source, id % 1000), and source on
        # id % 20: one canonical URL per id % 1000
        self.url_keepers = len(set((corpus % 1000).tolist()))
        self.lineage = None

    def _frames(self, spark):
        from pyspark.sql import functions as F

        from telecom_competitor_analysis_spark.sources.readers import load_table

        docs = load_table(spark, self.data, "documents")
        did = F.col("doc_id")
        docs = docs.withColumn("url", F.concat(
            F.when(did % 2 == 0, F.lit("https://")).otherwise(F.lit("HTTPS://")),
            F.lit("www."), F.col("source"), F.lit(".example.com/item-"),
            (did % 1000).cast("string"), F.lit("?utm_source=feed")))
        is_eval = did % 100 == self.eval_mod
        return docs.filter(~is_eval), docs.filter(is_eval)

    def _check_lineage(self, ctx, lineage: list[dict]) -> None:
        stages = [row["stage"] for row in lineage]
        ok = (stages == list(CURATE_STAGES)
              and lineage[0]["rows_in"] == self.n_corpus
              and lineage[0]["rows_out"] == self.url_keepers
              and all(r["rows_in"] - r["rows_dropped"] == r["rows_out"] >= 0
                      for r in lineage)
              and all(a["rows_out"] == b["rows_in"]
                      for a, b in zip(lineage, lineage[1:]))
              and (self.lineage is None or lineage == self.lineage))
        ctx.check(ok, f"curation funnel {lineage}")
        self.lineage = self.lineage or lineage

    def setup(self, ctx) -> None:
        # the engine import is set-up; the job stays the process's first
        from telecom_competitor_analysis_spark.jobs.curate import curate_batch

        self.curate_batch = curate_batch

    def finish(self, ctx) -> None:
        rows = ctx.spark.read.parquet(self.out).select(
            "doc_id", "shard", "pos").toPandas()
        per_shard = rows.groupby("shard")["pos"]
        ok = (len(rows) == self.lineage[-1]["rows_out"]
              and rows["doc_id"].is_unique
              and not self.eval_ids & set(rows["doc_id"].tolist())
              and rows["shard"].between(0, self.n_shards - 1).all()
              and (per_shard.min() == 1).all()
              and (per_shard.max() == per_shard.count()).all()
              and (per_shard.nunique() == per_shard.count()).all())
        ctx.check(ok, "curated shards")

    def run_pass(self, ctx, tracer: Tracer, index: int) -> dict:
        spark = ctx.spark
        spark.catalog.clearCache()
        self.out = ctx.path(f"shards{index}")
        t0 = time.perf_counter()
        corpus, eval_docs = self._frames(spark)
        with tracer.span("jobs.curate.curate_batch"):
            shards, lineage = self.curate_batch(
                corpus, eval_docs=eval_docs, carry_cols=("source", "lang"),
                n_shards=self.n_shards)
        with tracer.span("jobs.curate.shard"):
            shards.write.mode("overwrite").partitionBy("shard").parquet(self.out)
        wall = time.perf_counter() - t0
        self._check_lineage(ctx, lineage)
        return {"ops": {"curate": wall},
                "rows_out": lineage[-1]["rows_out"]}

    def instrument(self, ctx, tracer: Tracer) -> None:
        jsc = ctx.spark.sparkContext._jsc

        def cached_bytes(rec):
            rec["cached_bytes"] = sum(
                r.memSize() + r.diskSize()
                for r in jsc.sc().getRDDStorageInfo())

        # every stage of the funnel ends in a count() of its survivors
        tracer.wrap(type(ctx.spark.range(0)), "count", "jobs.curate.count",
                    when=lambda *a, **k:
                    tracer.current() == "jobs.curate.curate_batch",
                    after=cached_bytes)

    def layer_metrics(self, ctx, tracer: Tracer, passes: list[dict],
                      groups: dict) -> dict:
        names = ("input",) + CURATE_STAGES
        stage_walls: dict[str, list[float]] = {s: [] for s in names}
        for batch in (s for s in tracer.spans
                      if s["name"] == "jobs.curate.curate_batch"):
            ends = [batch["start"]] + [
                s["end"] for s in tracer.spans
                if s["name"] == "jobs.curate.count"
                and s["parent"] == batch["id"]]
            for stage, a, b in zip(names, ends, ends[1:]):
                stage_walls[stage].append(b - a)
        for s in tracer.spans:
            if s["name"] == "jobs.curate.shard":
                stage_walls["shard"].append(s["end"] - s["start"])
        out = {f"jobs.curate.{stage}_s": statistics.median(w)
               for stage, w in stage_walls.items() if w}
        out["jobs.curate.kept_frac"] = (
            self.lineage[-1]["rows_out"] / self.lineage[0]["rows_in"])
        out["jobs.curate.cached_bytes_peak"] = max(
            s.get("cached_bytes", 0) for s in tracer.spans)
        return out


WORKLOADS = {
    # nominal_s: a warm pass on the 4-core baseline machine. The JVM is
    # still warming up over the first passes of a run (the first pass after
    # the session and checks reads up to a quarter slower than the next and
    # spreads widest across runs), so set-up ends with warm passes.
    "medallion_daily": Medallion(products=10_000, days=1, nominal_s=6.5,
                                 warm_passes=2),
    "star_queries": QueryMix(STAR_QUERIES, sf=0.01, nominal_s=6.0,
                             warm_passes=1),
    "similarity_dedup": QueryMix(SIMILARITY_QUERIES, sf=0.01, nominal_s=15.0,
                                 warm_passes=1),
    "curate_corpus": Curate(sf=0.01, nominal_s=20.0),
}
