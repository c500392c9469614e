"""The two closed-loop workloads: one client, each operation issued
after the previous one finishes.

Each workload has ``prepare`` (generate the next inputs, untimed),
``warm_up`` (part of set-up), ``op`` (one timed operation; returns
seconds per item), ``after_op`` (checks the output of the warm-up or
of the last operation) and ``finish`` (checks after the timed loop);
both run outside set-up and the timed operations and return the number
of failed items. ``geomean_items`` gives the times ``op_geomean_s`` is
taken over, and ``layers`` the per-layer numbers of a traced run.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time

import numpy as np

from perfbench import inputs as I
from perfbench.probes import Tracer, cached_rdds, group_counts

VECTOR_QUERIES = (
    "sim_topk_bruteforce",
    "sim_ann_lsh_buckets",
    "sim_ann_ivf",
    "sim_range_search_threshold",
    "sim_maxsim_late_interaction",
    "ml_knn_classifier_eval",
    "cluster_dbscan_lsh_blocked",
    "dedup_embedding_cosine",
    "dedup_semantic_cluster",
    "cluster_kmeans_embeddings",
    "sim_pq_adc",
    "pipeline_retrieval_e2e",
)


def _say(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# ---- ingest_cycle -----------------------------------------------------------


class SpoolTransport:
    """In-memory ``Transport``: serves this cycle's payload per
    parameter and appends one byte to a spool file per call, so calls
    made inside Python workers are counted across processes."""

    def __init__(self, payloads: dict[str, bytes], spool: str):
        self.payloads, self.spool = payloads, spool

    def __call__(self, url: str) -> bytes:
        with open(self.spool, "ab") as fh:
            fh.write(b".")
        return self.payloads[url.split("parameter-name=")[1].split("&")[0]]


def _files(root: str) -> dict[str, tuple[int, float]]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime)
    return out


def _time_strs(times: list[int]) -> list[str]:
    return [time.strftime("%Y%m%dT%H%M%S", time.gmtime(t)) for t in times]


class IngestCycle:
    min_ops = 2  # stored bytes are read after the second timed cycle
    warm_up_ops = 1  # the warm-up cycle is checked like the timed ones

    def __init__(self, work: str, seed: int, tracer: Tracer):
        from dmi_ingestor_spark.sources.http_edr import IngestConfig

        self.work, self.seed, self.tracer = work, seed, tracer
        self.out = os.path.join(work, "out")
        self.spool = os.path.join(work, "transport.spool")
        self.config = IngestConfig(collection=I.COLLECTION, parameters=I.PARAMETERS)
        self.cycle = 0
        self.pending: tuple | None = None
        self.stats: dict[str, list[float]] = {}
        self.stored_bytes_per_cell = 0.0

    def _add(self, key: str, value: float) -> None:
        self.stats.setdefault(key, []).append(value)

    def prepare(self) -> None:
        if self.pending is None:
            self.pending = I.cycle_payloads(self.seed, self.cycle)

    def _run_cycle(self, spark) -> dict[str, float]:
        from dmi_ingestor_spark.ingest.pipeline import run_ingest

        payloads, arrays = self.pending
        self.pending = None
        open(self.spool, "wb").close()
        traced = self.tracer.enabled
        if traced:
            with self.tracer.bookkeeping():
                before = _files(self.out)
                spark.sparkContext.setJobGroup(f"cycle-{self.cycle}", "ingest cycle")
        with self.tracer.span("ingest.pipeline.run_ingest", cycle=self.cycle):
            t0 = time.perf_counter()
            self.result = run_ingest(
                spark, self.config, self.out, SpoolTransport(payloads, self.spool), export_tifs=True
            )
            wall = time.perf_counter() - t0
        if traced:
            self._book_cycle(spark, before)
        self.last = (payloads, arrays, self.cycle)
        self.cycle += 1
        return {"cycle": wall}

    def _book_cycle(self, spark, before: dict[str, tuple[int, float]]) -> None:
        """Job, file and transport counts of the cycle that just ran."""
        with self.tracer.bookkeeping():
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            for k, v in group_counts(spark, f"cycle-{self.cycle}").items():
                self._add(f"{k}_per_cycle", v)
            after = _files(self.out)
            self._add(
                "files_written_per_cycle",
                sum(1 for p, (_, m) in after.items() if before.get(p, (0, 0.0))[1] != m),
            )
            leaves = lambda fs: {os.path.dirname(p) for p in fs if "/grid/" in p}  # noqa: E731
            self._add("stale_leaves_deleted_per_cycle", len(leaves(before) - leaves(after)))
            self._add(
                "transport_calls_per_cube", os.path.getsize(self.spool) / len(I.PARAMETERS)
            )
            self._add(
                "cog_bytes_per_cell",
                sum(os.path.getsize(p) for p in self.result.tif_paths or []) / I.CELLS_PER_CYCLE,
            )

    def warm_up(self, spark) -> None:
        """Cycle 0 fills the empty output directory, so every timed
        cycle overwrites, adds and retires leaves. ``after_op`` checks
        it, outside set-up."""
        self._run_cycle(spark)

    def op(self, spark) -> dict[str, float]:
        return self._run_cycle(spark)

    def after_op(self, spark) -> int:
        failed = self.check(spark)
        if self.cycle == 3:  # warm-up + two timed cycles
            self.stored_bytes_per_cell = (
                sum(s for s, _ in _files(self.out).values()) / I.CELLS_PER_CYCLE
            )
        return failed

    def check(self, spark) -> int:
        """1 if this cycle's output is wrong in any way, else 0."""
        from pyspark.sql import functions as F

        from dmi_ingestor_spark.functions.projection import lcc_inverse_np
        from dmi_ingestor_spark.operators.raster import decode_geotiff

        _, arrays, cycle = self.last
        res = self.result
        n_params = len(I.PARAMETERS)
        expect = set(_time_strs(I.cycle_times(cycle)))
        problems = []
        if res.failed_parameters:
            problems.append(f"failed parameters {res.failed_parameters}")
        if res.n_rows != I.CELLS_PER_CYCLE:
            problems.append(f"n_rows {res.n_rows}")
        if res.n_partitions_written != n_params * I.N_STEPS:
            problems.append(f"partitions {res.n_partitions_written}")
        grid = os.path.join(self.out, "grid", f"collection={I.COLLECTION}")
        for p in I.PARAMETERS:
            mpath = os.path.join(self.out, "manifests", I.COLLECTION, p, "forecasts.json")
            with open(mpath) as fh:
                if set(json.load(fh)) != expect:
                    problems.append(f"manifest keys of {p}")
            leaves = {
                d.removeprefix("time_str=")
                for d in os.listdir(os.path.join(grid, f"parameter={p}"))
                if d.startswith("time_str=")
            }
            if leaves != expect:
                problems.append(f"grid leaves of {p}: {len(leaves)}")
        rows = (
            spark.read.parquet(os.path.join(self.out, "grid"))
            .groupBy("parameter")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("value").alias("s"),
                F.min("lon").alias("lon0"),
                F.max("lon").alias("lon1"),
                F.min("lat").alias("lat0"),
                F.max("lat").alias("lat1"),
            )
            .collect()
        )
        xx, yy = np.meshgrid(np.asarray(I.XS), np.asarray(I.YS))
        lon, lat = lcc_inverse_np(xx.ravel(), yy.ravel())
        envelope = (lon.min(), lon.max(), lat.min(), lat.max())
        got = {r["parameter"]: r for r in rows}
        if set(got) != set(I.PARAMETERS):
            problems.append(f"parameters in grid {sorted(got)}")
        for p, r in got.items():
            a = arrays.get(p)
            if a is None or r["n"] != a.size or r["s"] != float(a.sum()):
                problems.append(f"count/sum of {p}")
            if (r["lon0"], r["lon1"], r["lat0"], r["lat1"]) != envelope:
                problems.append(f"lon/lat envelope of {p}")
        tifs = res.tif_paths or []
        if len(tifs) != n_params * I.N_STEPS:
            problems.append(f"{len(tifs)} COGs written")
        # one COG decoded back: a different parameter/timestep each cycle
        p_idx, step = cycle % n_params, (5 * cycle) % I.N_STEPS
        ts = _time_strs(I.cycle_times(cycle))[step]
        path = os.path.join(self.out, "tif", I.COLLECTION, I.PARAMETERS[p_idx], f"{ts}.tif")
        with open(path, "rb") as fh:
            level0 = decode_geotiff(fh.read())["levels"][0]
        want = arrays[I.PARAMETERS[p_idx]][step][::-1].astype("<f4")  # north-up
        if level0.shape != want.shape or not np.array_equal(level0, want):
            problems.append(f"COG pixels of {path}")
        if problems:
            _say(f"cycle {cycle} failed its checks: {problems}")
        return 1 if problems else 0

    def finish(self, spark) -> int:
        return 0

    def geomean_items(self, per_op: list[dict[str, float]]) -> list[float]:
        return [o["cycle"] for o in per_op]

    def layers(self, spark) -> dict[str, float]:
        """Per-layer probes on the last cycle's payloads, after the loop."""
        from pyspark.sql import functions as F

        from dmi_ingestor_spark.functions.projection import lcc_inverse_np
        from dmi_ingestor_spark.ingest.pipeline import (
            decode_to_grid,
            with_time_str,
            with_wgs84,
        )
        from dmi_ingestor_spark.operators.raster import encode_geotiff, rasterize_timesteps
        from dmi_ingestor_spark.sources.cube_format import decode_cube
        from dmi_ingestor_spark.sources.http_edr import fetch_cubes

        payloads, arrays, cycle = self.last
        tr = self.tracer
        noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
        with tr.span("sources.http_edr.fetch_cubes"):
            fetched = fetch_cubes(
                spark, self.config, SpoolTransport(payloads, self.spool)
            ).cache()
            fetched.count()
        # each step's noop write three times; a step's cost is its
        # median minus the previous step's median
        grid = decode_to_grid(fetched)
        for step, build in (
            ("decode_to_grid", lambda g: g),
            ("with_wgs84", lambda g: with_wgs84(g, True)),
            ("with_time_str", with_time_str),
        ):
            grid = build(grid)
            for _ in range(3):
                with tr.span(f"ingest.pipeline.{step}"):
                    noop(grid)
        fetched.unpersist()
        rows = spark.read.parquet(os.path.join(self.out, "grid")).filter(
            F.col("collection") == I.COLLECTION
        )
        with tr.span("operators.raster.rasterize_timesteps"):
            rasterize_timesteps(
                rows.select("parameter", "time_str", "y", "x", "value"),
                os.path.join(self.work, "probe_tif"),
            ).collect()
        for payload in payloads.values():
            with tr.span("sources.cube_format.decode_cube"):
                decode_cube(payload)
        xs = np.tile(np.asarray(I.XS), I.N_STEPS * I.N_Y)
        ys = np.tile(np.repeat(np.asarray(I.YS), I.N_X), I.N_STEPS)
        with tr.span("functions.projection.lcc_inverse_np"):
            lcc_inverse_np(xs, ys)
        dx = I.XS[1] - I.XS[0]
        for step in range(I.N_STEPS):
            with tr.span("operators.raster.encode_geotiff"):
                encode_geotiff(
                    arrays[I.PARAMETERS[0]][step][::-1],
                    I.XS[0] - dx / 2, I.YS[-1] + dx / 2, dx, dx,
                )
        one = lambda n: _median(tr.durations(n))  # noqa: E731
        manifest_keys = {}
        for p in I.PARAMETERS:
            with open(os.path.join(self.out, "manifests", I.COLLECTION, p, "forecasts.json")) as fh:
                manifest_keys[p] = set(json.load(fh))
        tif_root = os.path.join(self.out, "tif", I.COLLECTION)
        stale_cogs = sum(
            1
            for p in I.PARAMETERS
            for f in os.listdir(os.path.join(tif_root, p))
            if f.removesuffix(".tif") not in manifest_keys[p]
        )
        d2g = one("ingest.pipeline.decode_to_grid")
        wgs = one("ingest.pipeline.with_wgs84")
        return {
            "sources.http_edr.fetch_s": one("sources.http_edr.fetch_cubes"),
            "sources.http_edr.transport_calls_per_cube": _median(self.stats["transport_calls_per_cube"]),
            "sources.cube_format.decode_s": one("sources.cube_format.decode_cube"),
            "functions.projection.lcc_inverse_s": one("functions.projection.lcc_inverse_np"),
            "ingest.pipeline.run_ingest_s": _median(tr.durations("ingest.pipeline.run_ingest")[1:]),
            "ingest.pipeline.decode_to_grid_s": d2g,
            "ingest.pipeline.with_wgs84_s": wgs - d2g,
            "ingest.pipeline.with_time_str_s": one("ingest.pipeline.with_time_str") - wgs,
            "ingest.pipeline.jobs_per_cycle": _median(self.stats["jobs_per_cycle"][1:]),
            "ingest.pipeline.stages_per_cycle": _median(self.stats["stages_per_cycle"][1:]),
            "ingest.pipeline.tasks_per_cycle": _median(self.stats["tasks_per_cycle"][1:]),
            "ingest.pipeline.files_written_per_cycle": _median(self.stats["files_written_per_cycle"][1:]),
            "ingest.fs.stale_leaves_deleted_per_cycle": _median(self.stats["stale_leaves_deleted_per_cycle"][1:]),
            "ingest.stale_cogs_left": stale_cogs,
            "ingest.stored_bytes_per_cell": self.stored_bytes_per_cell,
            "operators.raster.rasterize_timesteps_s": one("operators.raster.rasterize_timesteps"),
            "operators.raster.encode_geotiff_s": one("operators.raster.encode_geotiff"),
            "operators.raster.cog_bytes_per_cell": _median(self.stats["cog_bytes_per_cell"][1:]),
        }


# ---- query_vector -------------------------------------------------------------


class QueryPass:
    """One operation = one pass over the 12 embedding-kernel queries.
    Before each query the Spark cache is cleared (after recording what
    the previous builder left persisted), so no pass times another's
    cached data. Each query is built and collected to Arrow; the
    collected results are compared with the DuckDB oracle after the
    timed loop."""

    min_ops = 1
    warm_up_ops = 0

    def __init__(self, work: str, seed: int, tracer: Tracer):
        self.work, self.seed, self.tracer = work, seed, tracer
        self.fixture = os.path.join(work, "fixture")
        self.results: list[dict] = []
        self.stats: dict[str, list[float]] = {}
        self.per_query: dict[str, list[float]] = {q: [] for q in VECTOR_QUERIES}
        self.pass_no = 0

    def _add(self, key: str, value: float) -> None:
        self.stats.setdefault(key, []).append(value)

    def prepare(self) -> None:
        if not os.path.isdir(self.fixture):
            I.write_embeddings(self.fixture, self.seed)

    def warm_up(self, spark) -> None:
        from dmi_ingestor_spark.registry import load_all

        self.registry = load_all()

    def _job_group(self, sc, group: str) -> None:
        """Tags the next jobs in a traced run; the call counts as
        tracing overhead."""
        if self.tracer.enabled:
            with self.tracer.bookkeeping():
                sc.setJobGroup(group, group)

    def op(self, spark) -> dict[str, float]:
        sc = spark.sparkContext
        times, out, sums = {}, {}, {}
        for q in VECTOR_QUERIES:
            spark.catalog.clearCache()
            tag = f"{self.pass_no}-{q}"
            with self.tracer.span("queries.query", query=q):
                t0 = time.perf_counter()
                try:
                    self._job_group(sc, f"b-{tag}")
                    with self.tracer.span("queries.builder"):
                        df = self.registry[q].builder(spark, self.fixture)
                    t1 = time.perf_counter()
                    self._job_group(sc, f"x-{tag}")
                    with self.tracer.span("queries.execute"):
                        out[q] = df.toArrow()
                    t2 = time.perf_counter()
                except Exception as err:  # noqa: BLE001 - counted as a failed query
                    _say(f"{q} raised {type(err).__name__}: {err}")
                    out[q] = None
                    t1 = t2 = time.perf_counter()
            times[q] = t2 - t0
            if self.tracer.enabled:
                with self.tracer.bookkeeping():
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    b, x = group_counts(spark, f"b-{tag}"), group_counts(spark, f"x-{tag}")
                    n_rdds, mb = cached_rdds(spark)
                    for k, v in (
                        ("builder_s", t1 - t0), ("execute_s", t2 - t1),
                        ("builder_jobs", b["jobs"]), ("jobs", b["jobs"] + x["jobs"]),
                        ("stages", b["stages"] + x["stages"]), ("tasks", b["tasks"] + x["tasks"]),
                        ("cached_rdds_left", n_rdds), ("cached_mb_left", mb),
                    ):
                        sums[k] = sums.get(k, 0) + v
        spark.catalog.clearCache()
        for k, v in sums.items():
            self._add(k, v)
        for q, t in times.items():
            self.per_query[q].append(t)
        self.results.append(out)
        self.pass_no += 1
        return times

    def after_op(self, spark) -> int:
        return 0

    def finish(self, spark) -> int:
        """Compare every pass's results with the DuckDB oracle twin.
        Returns the number of failed query executions."""
        import duckdb

        from tools.oracle_check import compare, dtype_problems, normalize

        con = duckdb.connect()
        con.execute("SET memory_limit='2GB'")
        con.execute(f"SET temp_directory='{os.path.join(self.work, 'duckdb_tmp')}'")
        for f in os.listdir(self.fixture):
            if f.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {f.removesuffix('.parquet')} AS "
                    f"SELECT * FROM '{os.path.join(self.fixture, f)}'"
                )
        failed = 0
        for q in VECTOR_QUERIES:
            spec = self.registry[q]
            oracle = None
            if spec.oracle is not None:
                try:
                    d_arrow = con.execute(spec.oracle).fetch_arrow_table()
                except duckdb.Error as err:
                    _say(f"{q}: oracle raised {err}")
                    failed += len(self.results)
                    continue
                oracle = (d_arrow.schema, normalize(d_arrow.to_pandas()))
            for out in self.results:
                got = out.get(q)
                if got is None:
                    failed += 1
                    continue
                problems = []
                if oracle is not None:
                    problems += dtype_problems(got.schema, oracle[0])
                    problems += compare(q, normalize(got.to_pandas()), oracle[1])
                if problems:
                    _say(f"{q} failed its checks: {problems[:3]}")
                    failed += 1
        con.close()
        return failed

    def geomean_items(self, per_op: list[dict[str, float]]) -> list[float]:
        return [_median(v) for v in self.per_query.values() if v]

    def layers(self, spark) -> dict[str, float]:
        return {
            **{f"queries.{k}": _median(self.stats.get(k, [])) for k in (
                "builder_s", "builder_jobs", "execute_s", "jobs", "stages", "tasks",
                "cached_rdds_left", "cached_mb_left",
            )},
            **{f"queries.{q}.s": _median(v) for q, v in self.per_query.items()},
        }


def make(name: str, work: str, seed: int, tracer: Tracer):
    if name == "ingest_cycle":
        return IngestCycle(work, seed, tracer)
    if name == "query_vector":
        return QueryPass(work, seed, tracer)
    raise SystemExit(f"unknown workload {name!r}")


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0
