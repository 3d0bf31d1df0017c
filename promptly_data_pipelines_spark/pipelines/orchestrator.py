"""In-process model orchestrator — the app.py + dbt-DAG role.

The reference orchestrates by shelling out to dbt sequentially
(promptly/app.py:29-64, ``subprocess.run`` per step, threads=1 in
profiles.yml:21); dbt resolves ``ref()`` calls into a model DAG
(curated_provider.sql:52,67). Here: models are Python functions
returning DataFrames, dependencies are declared, execution is a
topological sort with fail-fast — one process, no subprocess
boundaries. ``run`` is sequential by default; ``run(parallel=True)``
(what ``elt_job.run_elt`` uses) runs each topo level's independent
models concurrently, which the reference cannot (threads=1). Level
models inherit the caller's job group and description, so a
``cancelJobGroup`` on the caller's group stops them too.
"""

from __future__ import annotations

import logging
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

log = logging.getLogger(__name__)

ModelFn = Callable[[SparkSession, dict[str, DataFrame]], DataFrame]


@dataclass
class Model:
    name: str
    fn: ModelFn
    deps: list[str] = field(default_factory=list)


class Pipeline:
    """Register models with deps (the ``ref()`` graph), then ``run``:
    topo-sort, execute each model with its resolved upstream frames,
    register the result as a temp view (the SQL surface dbt exposes),
    fail fast on error (app.py:61-64 check=True analog)."""

    def __init__(self) -> None:
        self._models: dict[str, Model] = {}

    def model(self, name: str, deps: list[str] | None = None) -> Callable[[ModelFn], ModelFn]:
        def deco(fn: ModelFn) -> ModelFn:
            if name in self._models:
                raise ValueError(f"duplicate model: {name}")
            self._models[name] = Model(name, fn, list(deps or []))
            return fn

        return deco

    def topo_order(self) -> list[str]:
        order: list[str] = []
        state: dict[str, int] = {}  # 0=unvisited 1=visiting 2=done

        def visit(name: str) -> None:
            if name not in self._models:
                raise KeyError(f"unknown model dependency: {name}")
            if state.get(name) == 1:
                raise ValueError(f"dependency cycle through {name}")
            if state.get(name) == 2:
                return
            state[name] = 1
            for d in self._models[name].deps:
                visit(d)
            state[name] = 2
            order.append(name)

        for name in self._models:
            visit(name)
        return order

    def run(self, spark: SparkSession, parallel: bool = False) -> dict[str, DataFrame]:
        """Sequential by default (deterministic logs, the reference's
        observable behavior). ``parallel=True`` runs each topo level's
        independent models concurrently — Spark's scheduler accepts
        jobs from multiple threads, so independent models overlap their
        cluster usage. The reference cannot do this (TRINO_DBT_THREADS=1,
        profiles.yml:21); it is strictly a capability gain."""
        if not parallel:
            results: dict[str, DataFrame] = {}
            for name in self.topo_order():
                m = self._models[name]
                log.info("running model %s (deps: %s)", name, m.deps)
                upstream = {d: results[d] for d in m.deps}
                df = m.fn(spark, upstream)
                df.createOrReplaceTempView(name)
                results[name] = df
            return results
        return self._run_parallel(spark)

    def _topo_levels(self) -> list[list[str]]:
        order = self.topo_order()
        level: dict[str, int] = {}
        for name in order:
            deps = self._models[name].deps
            level[name] = 1 + max((level[d] for d in deps), default=-1)
        out: list[list[str]] = []
        for name in order:
            while len(out) <= level[name]:
                out.append([])
            out[level[name]].append(name)
        return out

    def _run_parallel(self, spark: SparkSession) -> dict[str, DataFrame]:
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        results: dict[str, DataFrame] = {}
        for group in self._topo_levels():
            log.info("running level: %s", group)

            def run_one(name: str) -> tuple[str, DataFrame]:
                m = self._models[name]
                upstream = {d: results[d] for d in m.deps}
                return name, m.fn(spark, upstream)

            # cap the pool: a 100-model level would spawn 100 threads all
            # submitting Spark jobs at once — past ~8 concurrent jobs the
            # local scheduler is saturated and extra threads only cost
            # driver memory. Each target is wrapped per model: the wrapper
            # copies the caller's local properties (job group,
            # description) when it is made, so every model gets its own
            # copy and a model's setJobGroup never leaks into a sibling
            with ThreadPoolExecutor(max_workers=max(1, min(8, len(group)))) as ex:
                futures = [
                    ex.submit(inheritable_thread_target(spark)(run_one), name)
                    for name in group
                ]
                for fut in futures:
                    name, df = fut.result()
                    df.createOrReplaceTempView(name)
                    results[name] = df
        return results
