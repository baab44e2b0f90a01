"""Shared set-up and the three workloads of the track×grid benchmark.

``Bench`` owns the Spark session, the generated inputs and the loopback
DAP server. Each workload runs one kind of operation, times it, and checks
its result against :mod:`perfbench.reference`. In a traced run the
workloads also probe each layer's public functions directly.
"""

from __future__ import annotations

import contextlib
import http.server
import os
import random
import shutil
import statistics
import subprocess
import threading
import time

from modeltracking_spark.fixtures import (
    GRID_N_DEPTH,
    GRID_N_LAT,
    GRID_N_LON,
    GRID_N_TIME,
    hycom_grid_fixture,
)
from modeltracking_spark.operators.profile import (
    profile_along_track,
    profile_neighbors,
)
from modeltracking_spark.queries.common import ensure_pkg_on_workers
from modeltracking_spark.session import get_spark
from modeltracking_spark.sources.dap import DapDataset, make_dap_handler
from modeltracking_spark.sources.grid_source import (
    HycomGridDataSource,
    write_grid_netcdf,
    write_grid_netcdf_packed,
)
from modeltracking_spark.sources.netcdf_classic import NcFile
from modeltracking_spark.sources.tracks import read_nhc_best_track
from pyspark.sql import functions as F

from perfbench import inputs, reference
from perfbench.spans import Tracer

#: both netCDF grids hold the fixture's own time axis (1x its 28 steps):
#: a storm request then lasts a few seconds, so a run has several samples
N_TIME = GRID_N_TIME
CELLS_PER_STEP = GRID_N_DEPTH * GRID_N_LAT * GRID_N_LON
N_SEASON_STORMS = 1000
N_SEASON_FILES = 10
#: storms per season operation whose profile rows are checked
SEASON_CHECK_STORMS = 2
INPUT_REPS = 3
PHYSICS = ("water_temp", "salinity")
TRACK_DDL = "point_id long, lat double, lon double, t_hours long"


class DapStats:
    """Requests, bytes sent and peak concurrency of the DAP server."""

    def __init__(self):
        self._lock = threading.Lock()
        self.requests = 0
        self.bytes = 0
        self.active = 0
        self.max_active = 0

    def enter(self):
        with self._lock:
            self.requests += 1
            self.active += 1
            self.max_active = max(self.max_active, self.active)

    def leave(self):
        with self._lock:
            self.active -= 1

    def add_bytes(self, n: int):
        with self._lock:
            self.bytes += n


class _CountingWriter:
    def __init__(self, raw, stats: DapStats):
        self._raw = raw
        self._stats = stats

    def write(self, b):
        self._stats.add_bytes(len(b))
        return self._raw.write(b)

    def __getattr__(self, name):
        return getattr(self._raw, name)


class _CountingRangeReader:
    """Wraps an ``NcFile`` range reader to count the bytes it reads."""

    def __init__(self, raw):
        self._raw = raw
        self.bytes = 0

    def read_range(self, off: int, nbytes: int) -> bytes:
        b = self._raw.read_range(off, nbytes)
        self.bytes += len(b)
        return b

    def __getattr__(self, name):
        return getattr(self._raw, name)


def start_dap_server(root: str, stats: DapStats):
    """The served grid-mode DAP handler, subclassed to count its traffic."""
    base = make_dap_handler(root, grid_mode=True)

    class CountingHandler(base):
        def do_GET(self):
            stats.enter()
            self.wfile = _CountingWriter(self.wfile, stats)
            try:
                super().do_GET()
            finally:
                stats.leave()

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), CountingHandler)
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    return srv, thread


def scan_aggregate(grid):
    """The ``grid_netcdf_scan`` aggregate: per time step the row count,
    the sentinel count and the sum of the tenth-degree temperatures."""
    masked = F.when(F.col("water_temp") > -4,
                    F.round(F.col("water_temp") * 10).cast("long"))
    return grid.groupBy("time_hours").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("water_temp") <= -4, 1).otherwise(0)).alias("n_sentinel"),
        F.sum(masked).alias("sum_temp_e1"),
    )


def _median_ms(xs):
    return statistics.median(xs) * 1e3


class Timed:
    seconds = float("nan")


class Bench:
    """Spark session, inputs, DAP server and per-operation counters."""

    def __init__(self, work: str, seed: int, nproc: int, tracer: Tracer):
        self.work = work
        self.seed = seed
        self.nproc = nproc
        self.tracer = tracer
        self.spark = None
        self.dap = DapStats()
        # inputs, set by _adopt from what _make_inputs made
        self.server = self.dap_url = self.grid_path = None
        self.packed_path = self.season_dir = self.storms = None
        self.setup_times: dict[str, float] = {}
        self.op_counters: list[dict] = []
        self._n_groups = 0

    # -- set-up --------------------------------------------------------
    def setup(self, needs: set[str], extras: set[str]) -> None:
        """Start the session and make the ``needs`` inputs (``grid``: the
        float64 netCDF grid and its DAP server, ``packed``: the int16
        netCDF grid, ``season``: the best-track CSVs) ``INPUT_REPS`` times,
        keeping the last; then make the ``extras`` once, untimed."""
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            cpus=self.nproc,
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.setup_times["session.start_s"] = time.perf_counter() - t0
        reps = []
        for k in range(INPUT_REPS):
            root = os.path.join(self.work, f"inputs{k}")
            times, made = self._make_inputs(root, needs)
            reps.append(times)
            if k < INPUT_REPS - 1:
                self._discard(root, made)
        self._adopt(made)
        for key in reps[0]:
            self.setup_times[key] = statistics.median(r[key] for r in reps)
        t0 = time.perf_counter()
        ensure_pkg_on_workers(self.spark)
        self.spark.dataSource.register(HycomGridDataSource)
        self.fixture = hycom_grid_fixture(self.spark)
        self.setup_times["setup.register_s"] = time.perf_counter() - t0
        if extras - needs:
            times, made = self._make_inputs(os.path.join(self.work, "extras"),
                                            extras - needs)
            self._adopt(made)
            for key, v in times.items():
                self.setup_times.setdefault(key, v)

    def _make_inputs(self, root: str, needs: set[str]):
        """Write the ``needs`` inputs under ``root``; returns the time of
        each step and what was made."""
        os.makedirs(root)
        t, made = {}, {}
        if needs & {"grid", "packed"}:
            t0 = time.perf_counter()
            if "grid" in needs:
                made["grid_path"] = os.path.join(root, "grid.nc")
                write_grid_netcdf(made["grid_path"], n_time=N_TIME)
            if "packed" in needs:
                made["packed_path"] = os.path.join(root, "packed.nc")
                write_grid_netcdf_packed(made["packed_path"], n_time=N_TIME)
            t["netcdf.write_s"] = time.perf_counter() - t0
        if "season" in needs:
            t0 = time.perf_counter()
            rng = random.Random(f"season-{self.seed}")
            made["storms"] = [inputs.make_storm(rng, GRID_N_TIME)
                              for _ in range(N_SEASON_STORMS)]
            made["season_dir"] = os.path.join(root, "season")
            inputs.write_season(made["season_dir"], made["storms"], N_SEASON_FILES)
            t["tracks.write_s"] = time.perf_counter() - t0
        if "grid" in needs:
            t0 = time.perf_counter()
            made["server"] = start_dap_server(root, self.dap)
            t["dap.start_s"] = time.perf_counter() - t0
            made["dap_url"] = (f"dap+http://127.0.0.1:"
                               f"{made['server'][0].server_address[1]}/grid.nc")
        t["setup.inputs_s"] = sum(t.values())
        return t, made

    @staticmethod
    def _stop_server(server, thread) -> None:
        server.shutdown()
        server.server_close()
        thread.join()

    def _discard(self, root: str, made: dict) -> None:
        if "server" in made:
            self._stop_server(*made["server"])
        shutil.rmtree(root)

    def _adopt(self, made: dict) -> None:
        self.__dict__.update(made)

    def close(self) -> None:
        if self.server is not None:
            self._stop_server(*self.server)
            self.server = None
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            try:
                self.spark.stop()
            finally:
                self.spark = None
                SparkContext._gateway = SparkContext._jvm = None
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    # the JVM exits when its stdin closes
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()

    # -- per-operation helpers -------------------------------------------
    def grid(self, options: dict):
        return self.spark.read.format("hycom_grid").options(**options).load()

    def plan(self, df) -> None:
        """Build the physical plan ahead of execution (traced runs only),
        so planning shows as its own span."""
        if self.tracer.enabled:
            df._jdf.queryExecution().executedPlan()

    @contextlib.contextmanager
    def timed(self):
        """Time one operation's engine work. In a traced run, also count
        its Spark jobs, stages and tasks (under a job group) and its DAP
        requests and bytes."""
        t = Timed()
        traced = self.tracer.enabled
        if traced:
            sc = self.spark.sparkContext
            self._n_groups += 1
            group = f"perfbench-op-{self._n_groups}"
            sc.setJobGroup(group, group)
            dap0 = (self.dap.requests, self.dap.bytes)
        t0 = time.perf_counter()
        try:
            yield t
        finally:
            t.seconds = time.perf_counter() - t0
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                tracker = sc.statusTracker()
                jobs = tracker.getJobIdsForGroup(group)
                stages = [s for j in jobs
                          for s in (tracker.getJobInfo(j).stageIds or [])]
                infos = [tracker.getStageInfo(s) for s in stages]
                self.op_counters.append({
                    "spark.jobs": len(jobs),
                    "spark.stages": len(stages),
                    "spark.tasks": sum(i.numTasks for i in infos if i),
                    "dap.requests": self.dap.requests - dap0[0],
                    "dap.bytes": self.dap.bytes - dap0[1],
                })

    # -- per-layer probes (traced runs) ----------------------------------
    def probe_layers(self, wl) -> dict[str, float]:
        tr = self.tracer
        m: dict[str, float] = {}
        with tr.operation("probe"):
            op = {tr.op_id}
            nc = NcFile(wl.netcdf_path())
            counter = _CountingRangeReader(nc.reader)
            nc.reader = counter
            for ti in range(N_TIME):
                for var in PHYSICS:
                    with tr.span("netcdf.read_slice"):
                        nc.read_slice(var, ti)
            nc.close()
            m["netcdf.read_slice_ms"] = _median_ms(tr.durations("netcdf.read_slice", op))
            m["netcdf.bytes_read"] = counter.bytes

            for k in range(5):
                with tr.span("dap.open"):
                    ds = DapDataset(self.dap_url)
                with tr.span("dap.read_slice"):
                    ds.read_slice("water_temp", k)
            m["dap.open_ms"] = _median_ms(tr.durations("dap.open", op))
            m["dap.read_slice_ms"] = _median_ms(tr.durations("dap.read_slice", op))

            reader = HycomGridDataSource(wl.grid_options()).reader(None)
            with tr.span("grid.partitions"):
                parts = reader.partitions()
            rows = []
            for p in parts[:8]:
                with tr.span("grid.read"):
                    rows.append(sum(b.num_rows for b in reader.read(p)))
            # season_profile reads the in-engine fixture, not the DataSource
            m["grid.partitions"] = len(parts) if wl.needs & {"grid", "packed"} else 0
            m["grid.read_ms"] = _median_ms(tr.durations("grid.read", op))
            m["grid.rows"] = statistics.median(rows)

            with tr.span("tracks.read"):
                read_nhc_best_track(self.spark, self.season_dir).count()
            m["tracks.read_s"] = tr.durations("tracks.read", op)[0]

            track, grid, track_col = wl.profile_inputs()
            nb = profile_neighbors(track, grid, track_col=track_col)
            with tr.span("profile.join"):
                n_rows, n_valid = nb.agg(F.count(F.lit(1)), F.count("v")).first()
            with tr.span("profile.full"):
                (profile_along_track(track, grid, track_col=track_col)
                 .write.format("noop").mode("overwrite").save())
            join_s = tr.durations("profile.join", op)[0]
            m["profile.neighbor_rows"] = n_rows
            m["profile.valid_ratio"] = n_valid / n_rows
            m["profile.join_s"] = join_s
            m["profile.agg_s"] = tr.durations("profile.full", op)[0] - join_s
        return m


class StormProfile:
    """One client, closed loop: each request profiles one seeded storm
    against the netCDF grid served over DAP, rows collected to the driver."""

    name = "storm_profile"
    item = "track points"
    needs = {"grid"}

    def __init__(self, bench: Bench):
        self.b = bench
        self.rng = random.Random(f"storm-{bench.seed}")
        self.last_track = None

    def grid_options(self) -> dict:
        return {"path": self.b.dap_url, "pushdown": "true"}

    def netcdf_path(self) -> str:
        return self.b.grid_path

    def run_op(self):
        b, tr = self.b, self.b.tracer
        rows = inputs.storm_rows(inputs.make_storm(self.rng, N_TIME))
        with b.timed() as t:
            with tr.span("storm.track"):
                track = b.spark.createDataFrame(rows, TRACK_DDL)
            with tr.span("spark.plan"):
                prof = profile_along_track(track, b.grid(self.grid_options()))
                b.plan(prof)
            with tr.span("spark.execute"):
                got = prof.collect()
        self.last_track = rows
        with tr.span("bench.check"):
            bad = reference.profile_mismatches(
                got, reference.expected_profile(rows, N_TIME))
        return t.seconds, len(rows), bad

    def profile_inputs(self):
        track = self.b.spark.createDataFrame(self.last_track, TRACK_DDL)
        return track, self.b.grid(self.grid_options()), None


class SeasonProfile:
    """Batch: a season of best-track CSVs ingested and profiled in one
    fleet call against the in-engine formula grid, written to ``noop``."""

    name = "season_profile"
    item = "track points"
    needs = {"season"}

    def __init__(self, bench: Bench):
        self.b = bench
        self.rng = random.Random(f"season-check-{bench.seed}")
        self.tracks = inputs.season_points(bench.storms)
        self.n_points = sum(len(v) for v in self.tracks.values())

    def grid_options(self) -> dict:
        # the formula backend: the DataSource twin of the in-engine fixture
        return {}

    def netcdf_path(self) -> str:
        return self.b.packed_path

    def fleet(self, names=None):
        raw = read_nhc_best_track(self.b.spark, self.b.season_dir)
        if names is not None:
            raw = raw.where(F.col("stormname").isin(names))
        return raw.select("stormname", F.col("t_hours").alias("point_id"),
                          "lat", "lon", "t_hours")

    def run_op(self):
        b, tr = self.b, self.b.tracer
        with b.timed() as t:
            with tr.span("spark.plan"):
                prof = profile_along_track(self.fleet(), b.fixture,
                                           track_col="stormname")
                b.plan(prof)
            with tr.span("spark.execute"):
                prof.write.format("noop").mode("overwrite").save()
        with tr.span("bench.check"):
            names = self.rng.sample(sorted(self.tracks), SEASON_CHECK_STORMS)
            # only the sampled storms' time steps of the grid can join, so
            # the check generates just those (the filter reaches the
            # fixture's time range)
            steps = sorted({reference.time_bucket(p[3])
                            for n in names for p in self.tracks[n]})
            grid = b.fixture.where(F.col("time_hours").isin(steps))
            got = profile_along_track(self.fleet(names), grid,
                                      track_col="stormname").collect()
            bad = []
            for n in names:
                bad += reference.profile_mismatches(
                    [r for r in got if r["stormname"] == n],
                    reference.expected_profile(self.tracks[n], GRID_N_TIME))
        return t.seconds, self.n_points, bad

    def profile_inputs(self):
        return self.fleet(), self.b.fixture, "stormname"


class GridScan:
    """Bulk: the per-time-step aggregate over the packed int16 netCDF file
    through the DataSource file backend."""

    name = "grid_scan"
    item = "grid cells"
    needs = {"packed"}

    def __init__(self, bench: Bench):
        self.b = bench
        self.rng = random.Random(f"scan-{bench.seed}")
        self.expected = reference.expected_scan(N_TIME)

    def grid_options(self) -> dict:
        return {"path": self.b.packed_path}

    def netcdf_path(self) -> str:
        return self.b.packed_path

    def run_op(self):
        b, tr = self.b, self.b.tracer
        with b.timed() as t:
            with tr.span("spark.plan"):
                agg = scan_aggregate(b.grid(self.grid_options()))
                b.plan(agg)
            with tr.span("spark.execute"):
                got = agg.collect()
        with tr.span("bench.check"):
            bad = reference.scan_mismatches(got, self.expected)
        return t.seconds, N_TIME * CELLS_PER_STEP, bad

    def profile_inputs(self):
        rows = inputs.storm_rows(inputs.make_storm(self.rng, N_TIME))
        track = self.b.spark.createDataFrame(rows, TRACK_DDL)
        return track, self.b.grid(self.grid_options()), None


WORKLOADS = {w.name: w for w in (StormProfile, SeasonProfile, GridScan)}
ALL_INPUTS = {"grid", "packed", "season"}
