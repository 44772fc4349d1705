"""Per-layer tracing from outside the program.

A traced run wraps the public calls at each layer boundary for its
duration, tags the Spark jobs each layer launches with a job group, and
reads the groups back from the status store when the run ends. ETL runs
materialize each layer separately: the sources when their views are
registered, the module SQL when ``spark.sql`` returns, then the load.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from gates import GATES

SPARK_FIELDS = {
    "jobs": "count", "stages": "count", "tasks": "count",
    "executor_run_s": "s", "executor_cpu_s": "s",
    "shuffle_write_bytes": "B", "spill_bytes": "B",
    "short_single_task_stages": "count",
}
ETL_SPANS = ["extract", "transform", "load", "runner"]

# Every per-layer metric with its unit; a workload that has no such layer
# reports 0.
PER_LAYER = {
    "trace_overhead_s": "s",
    "http.plan_s": "s",
    "http.fetch_s": "s",
    "http.requests": "count",
    "http.useful_request_ratio": "ratio",
    "http.retries": "count",
    "http.bytes": "B",
    "gen.cpu_s": "s",
    "pgsource.read_s": "s",
    "pgsource.rows": "count",
    "transform.s": "s",
    "transform.rows_out": "count",
    "load.prepare_s": "s",
    "load.write_s": "s",
    "load.rows_per_s": "rows/s",
    "pg.xact_commits": "count",
    "pg.tup_inserted": "count",
    "pg.tup_updated": "count",
    "pg.wal_bytes_per_row": "B/row",
    **{f"spark.{k}": u for k, u in SPARK_FIELDS.items()},
    "spark.util": "ratio",
    **{f"spark.{span}.{k}": "count" for span in ETL_SPANS for k in ("jobs", "stages", "tasks")},
    **{
        f"gate.{g}.{k}": u
        for g in GATES
        for k, u in (("build_s", "s"), ("run_s", "s"), ("build_jobs", "count"), ("stages", "count"))
    },
    "operators.memo_builds": "count",
    "operators.memo_hits": "count",
}


def _layer_record(values: dict) -> dict:
    """Every per-layer metric except the overhead, as (value, unit)."""
    return {
        name: (values.get(name, 0), unit)
        for name, unit in PER_LAYER.items()
        if name != "trace_overhead_s"
    }


def _spark_totals(summaries, wall: float, cpus: int) -> dict:
    out = {f"spark.{k}": sum(s[k] for s in summaries) for k in SPARK_FIELDS}
    out["spark.util"] = out["spark.executor_run_s"] / (wall * cpus)
    return out


@contextmanager
def _patched(*patches):
    """Temporarily replace attributes: (owner, name, wrapper_factory)."""
    saved = []
    try:
        for owner, name, factory in patches:
            orig = getattr(owner, name)
            saved.append((owner, name, orig))
            setattr(owner, name, factory(orig))
        yield
    finally:
        for owner, name, orig in reversed(saved):
            setattr(owner, name, orig)


class EtlTracer:
    def __init__(self, wl, store, cpus: int):
        self.wl, self.store, self.cpus = wl, store, cpus

    def run(self, spark, tag: str):
        """One traced pipeline run: (wall seconds, rows landed, layers)."""
        from pyspark.sql import SparkSession

        from apitap_spark.sinks.jdbc_merge import JdbcMergeWriter
        from apitap_spark.sources.http import HttpSource

        v: dict = {}
        store, prefixes = self.store, self.wl.source_view_prefixes

        def add(key, amount):
            v[key] = v.get(key, 0) + amount

        def span(name, fn):
            store.set_group(f"{tag}:{name}")
            t0 = time.perf_counter()
            try:
                return fn(), time.perf_counter() - t0
            finally:
                store.set_group(tag)

        def plan(orig):
            def load(self_, spark_):
                df, dt = span("extract", lambda: orig(self_, spark_))
                add("http.plan_s", dt)
                return df

            return load

        def register_view(orig):
            def register(df, name):
                layer = next((k for p, k in prefixes.items() if name.startswith(p)), None)
                if layer is not None:
                    n, dt = span("extract", lambda: df.persist().count())
                    add("http.fetch_s" if layer == "http" else "pgsource.read_s", dt)
                    if layer == "pgsource":
                        add("pgsource.rows", n)
                return orig(df, name)

            return register

        def transform(orig):
            def sql(self_, query, *a, **kw):
                df = orig(self_, query, *a, **kw)
                if "transform.s" not in v:  # the module SQL; later calls pass through
                    n, dt = span("transform", lambda: df.persist().count())
                    v["transform.s"], v["transform.rows_out"] = dt, n
                return df

            return sql

        def prepare(orig):
            def wrapped(self_, schema):
                t0 = time.perf_counter()
                try:
                    return orig(self_, schema)
                finally:
                    add("load.prepare_s", time.perf_counter() - t0)

            return wrapped

        def write(orig):
            def wrapped(self_, df):
                _, dt = span("load", lambda: orig(self_, df))
                add("load.total_s", dt)

            return wrapped

        wl = self.wl
        wl.prepare_run()
        wl.api.reset()
        gen0 = wl.api.stats()["cpu_s"]
        pg0 = wl.pg_counters()
        with _patched(
            (HttpSource, "load", plan),
            (type(spark.range(0)), "createOrReplaceTempView", register_view),
            (SparkSession, "sql", transform),
            (JdbcMergeWriter, "prepare", prepare),
            (JdbcMergeWriter, "write", write),
        ):
            store.set_group(tag)
            t0 = time.perf_counter()
            try:
                stats = wl.run_once(spark)
            finally:
                wall = time.perf_counter() - t0
                store.clear_group()
        spark.catalog.clearCache()
        rows = stats.rows_written
        gen = wl.api.stats()
        v["http.requests"] = gen["requests"]
        v["http.bytes"] = gen["bytes"]
        v["http.useful_request_ratio"] = gen["useful_pages"] / max(1, gen["requests"])
        v["http.retries"] = sum(s["retries"] for s in stats.fetch_stats.values())
        v["gen.cpu_s"] = gen["cpu_s"] - gen0
        v["load.write_s"] = v["load.total_s"] - v.get("load.prepare_s", 0)
        v["load.rows_per_s"] = rows / v["load.total_s"]
        pg1 = wl.pg_counters()
        for k in ("xact_commits", "tup_inserted", "tup_updated"):
            v[f"pg.{k}"] = pg1[k] - pg0[k]
        v["pg.wal_bytes_per_row"] = (pg1["wal_bytes"] - pg0["wal_bytes"]) / rows
        groups = {span_: f"{tag}:{span_}" for span_ in ETL_SPANS[:-1]}
        groups["runner"] = tag
        summaries = store.group_metrics(groups.values())
        for span_, g in groups.items():
            for k in ("jobs", "stages", "tasks"):
                v[f"spark.{span_}.{k}"] = summaries[g][k]
        v.update(_spark_totals(summaries.values(), wall, self.cpus))
        return wall, rows, _layer_record(v)


class GateTracer:
    def __init__(self, wl, store, cpus: int):
        self.wl, self.store, self.cpus = wl, store, cpus

    def run(self, spark, tag: str):
        """One traced pass over the gates: (wall seconds, rows, layers)."""
        wl = self.wl
        wl.prepare_run()
        wall, _ = wl.run_once(spark, self.store, tag)
        groups = [f"{tag}:{g}:{phase}" for g in GATES for phase in ("build", "run")]
        summaries = self.store.group_metrics(groups)
        v: dict = {}
        for g in GATES:
            build, run = summaries[f"{tag}:{g}:build"], summaries[f"{tag}:{g}:run"]
            v[f"gate.{g}.build_s"] = wl.last[g]["build_s"]
            v[f"gate.{g}.run_s"] = wl.last[g]["run_s"]
            v[f"gate.{g}.build_jobs"] = build["jobs"]
            v[f"gate.{g}.stages"] = build["stages"] + run["stages"]
        v["operators.memo_builds"] = sum(rec["memo_builds"] for rec in wl.last.values())
        v["operators.memo_hits"] = wl.hits
        v.update(_spark_totals(summaries.values(), wall, self.cpus))
        return wall, wl.rows, _layer_record(v)
