"""End-to-end benchmark of the paper's two batch jobs, gridmet-etl and
cfsv2-etl, from landed inputs to written outputs at reference geometry.

    python3 e2ebench/run.py --workload gridmet_year --seed 1 --seconds 8 --trace 0

Each run starts one Spark session, generates the seeded inputs, lands the
workload's grid through ``sources.ingest.ingest_to_parquet``, runs one cold
job, then times warm jobs (closed loop, one job at a time) until their
summed time reaches ``--seconds``. Every job's output is checked against a
numpy oracle outside the timed region. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end
metrics with ``--trace 0``; per-layer metrics with ``--trace 1``, from a
traced re-run of each module call under Spark's event log). A line before
it records the run's hygiene: load average, work dirs and session warnings.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
import warnings
from collections import defaultdict
from dataclasses import dataclass
from datetime import timedelta

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if __package__ in (None, ""):  # run as a script: make the repo importable
    sys.path.insert(0, ROOT)

from e2ebench import gen, oracle  # noqa: E402
from e2ebench.eventlog import EventLog, read_events  # noqa: E402

CHAIN_REPS = 3  # traced repetitions of each workload's layer chain
WALL_LIMIT_S = 150  # stop timing warm jobs past this, whatever --seconds says


# per-layer metrics of a traced run, named by module, with their units
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "readers.s": "s",
    "readers.rows": "count",
    "readers.files": "count",
    "readers.mb_read": "MB",
    "bbox.bounds_s": "s",
    "bbox.rows_kept_frac": "frac",
    "ensemble.s": "s",
    "ensemble.shuffle_mb": "MB",
    "ensemble.shuffle_records": "count",
    "ensemble.spill_mb": "MB",
    "weighted_agg.s": "s",
    "weighted_agg.rows_in": "count",
    "weighted_agg.join_rows": "count",
    "weighted_agg.join_fanout": "ratio",
    "weighted_agg.partial_rows": "count",
    "weighted_agg.shuffle_mb": "MB",
    "weighted_agg.exchanges": "count",
    "weighted_agg.spill_mb": "MB",
    "weighted_agg.null_groups": "count",
    "plans.finalize_s": "s",
    "writers.parquet_s": "s",
    "writers.netcdf_s": "s",
    "writers.files": "count",
    "writers.rows": "count",
    "writers.mb": "MB",
    "ingest.s": "s",
    "ingest.rows": "count",
    "ingest.python_run_s": "s",
    "ingest.shuffle_mb": "MB",
    "ingest.files": "count",
    "ingest.mb": "MB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.exchanges": "count",
    "trace.overhead_frac": "frac",
}


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    job: str  # "gridmet" or "cfsv2" (method 1, with the date window flags)
    days: int  # landed days

    @property
    def ensemble(self) -> bool:
        return self.job == "cfsv2"

    @property
    def source_vars(self) -> tuple[str, ...]:
        return gen.CFSV2_SOURCE_VARS if self.ensemble else gen.GRIDMET_SOURCE_VARS


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "gridmet_year",
            "gridmet-etl's year job on a 7-day slice (6 vars): read-heavy, scan and "
            "the partial aggregate dominate, no ensemble shuffle; plus the "
            "driver-side NetCDF export of the result.",
            "gridmet",
            days=7,
        ),
        Workload(
            "cfsv2_median",
            "cfsv2-etl --method 1 on one 48-member day with the date window flags: "
            "the ensemble median shuffles all 48 values of every cell and dominates, "
            "so a weighted_agg or writer change should show no gain.",
            "cfsv2",
            days=1,
        ),
    )
}


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _java_descendants(pid: int) -> list[int]:
    """Java processes below ``pid`` (the driver JVM spark-submit starts)."""
    children = defaultdict(list)
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(p))
    found, stack = [], [pid]
    while stack:
        for c in children.get(stack.pop(), []):
            try:
                with open(f"/proc/{c}/comm") as fh:
                    if fh.read().strip() == "java":
                        found.append(c)
                        continue  # its children are Python workers, not driver
            except OSError:
                continue
            stack.append(c)
    return found


def _tree_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) of the regular files under ``path`` ending in ``suffix``."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class Bench:
    """One workload's run: session, set-up, jobs, checks, traced chain."""

    def __init__(self, wl: Workload, seed: int, work: str, trace: bool):
        self.wl, self.seed, self.work, self.trace = wl, seed, work, trace
        self.inputs = os.path.join(work, "inputs")
        self.landed = os.path.join(work, "landed")
        self.out = os.path.join(work, "out")
        self.eventlog = os.path.join(work, "eventlog")
        self.session_warnings: list[str] = []
        self.errors: list[str] = []
        self.verify_s = 0.0  # wall spent checking outputs, outside the timed region

    # -- session and set-up --------------------------------------------
    def start_session(self) -> float:
        from gridmet_etl_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # session.py's driver option plus a temp dir inside the work dir;
            # no hsperfdata file, which the JVM would write under /tmp
            "spark.driver.extraJavaOptions": "-Djava.net.preferIPv4Stack=true "
            f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData",
        }
        if self.trace:
            os.makedirs(self.eventlog)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = self.eventlog
        t0 = time.perf_counter()
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            self.spark = get_spark(app_name=f"e2ebench_{self.wl.name}", extra_conf=conf)
        elapsed = time.perf_counter() - t0
        self.session_warnings = [str(w.message) for w in caught]
        return elapsed

    def describe(self, name: str) -> None:
        self.spark.sparkContext.setJobDescription(name)

    def setup(self) -> float:
        """Generation plus landing: what a run pays before its first job.
        The landing fetches only the cells of the HRUs' buffered bbox, the
        way the ingest job prunes a remote grid (P2 at task construction)."""
        from gridmet_etl_spark.operators.bbox import bounds_to_cells, feature_bounds
        from gridmet_etl_spark.sources.ingest import build_slice_tasks, ingest_to_parquet
        from gridmet_etl_spark.sources.readers import read_features

        t0 = time.perf_counter()
        self.domain = gen.make_domain(self.seed)
        os.makedirs(self.inputs)
        self.domain.weights_pdf().to_parquet(os.path.join(self.inputs, "weights.parquet"))
        self.domain.features_pdf().to_parquet(os.path.join(self.inputs, "features.parquet"))
        self.domain.elevation_pdf().to_parquet(os.path.join(self.inputs, "elevation.parquet"))
        self.describe("ingest")
        t1 = time.perf_counter()
        features = read_features(self.spark, os.path.join(self.inputs, "features.parquet"))
        i0, i1, j0, j1 = bounds_to_cells(gen.CATALOG_REC, feature_bounds(features))
        wl = self.wl
        recs = [{"URL": f"synthetic://{v}", "variable": v} for v in wl.source_vars]
        tasks = build_slice_tasks(
            self.spark, recs, gen.START, gen.START + timedelta(days=wl.days - 1),
            (i0, i1, j0, j1), days_per_task=wl.days, tile_cells=80,
        )
        ingest_to_parquet(tasks, gen.make_fetcher(self.seed, wl.ensemble), self.landed)
        self.landing_s = time.perf_counter() - t1
        n_ens = gen.N_ENS if wl.ensemble else 1
        self.cell_values = len(wl.source_vars) * wl.days * (i1 - i0 + 1) * (j1 - j0 + 1) * n_ens
        return time.perf_counter() - t0

    # -- one job and its check -----------------------------------------
    def _argv(self) -> list[str]:
        inp = self.inputs
        common = [
            "--weights", os.path.join(inp, "weights.parquet"),
            "--features", os.path.join(inp, "features.parquet"),
            "--out", self.out,
        ]
        if self.wl.job == "gridmet":
            return ["gridmet-etl", "--grid", self.landed, *common]
        start, end = self.window()
        return ["cfsv2-etl", "--grid-ens", self.landed, *common,
                "--elevation", os.path.join(inp, "elevation.parquet"), "--method", "1",
                "--start-date", start, "--end-date", end]

    def window(self) -> tuple[str, str]:
        """The CFSv2 date window flags: the landed forecast days."""
        last = gen.START + timedelta(days=self.wl.days - 1)
        return gen.START.isoformat(), last.isoformat()

    def job(self) -> None:
        from gridmet_etl_spark import cli
        from gridmet_etl_spark.sources.writers import export_netcdf

        with contextlib.redirect_stdout(io.StringIO()):
            rc = cli.main(self._argv())
        if rc != 0:
            raise RuntimeError(f"cli exited {rc}")
        if self.wl.job == "gridmet":
            converted = self.spark.read.parquet(os.path.join(self.out, "converted"))
            export_netcdf(converted, os.path.join(self.out, "converted.nc"))

    def _prefix(self) -> str:
        return "converted_median" if self.wl.ensemble else "converted"

    def expect(self) -> None:
        """The oracle's output for this run's inputs (not part of set-up)."""
        wl = self.wl
        if wl.job == "gridmet":
            self.expected = oracle.expected_gridmet(self.domain, self.seed, wl.days)
        else:
            self.expected = oracle.expected_cfsv2_median(self.domain, self.seed, wl.days)

    def verify(self) -> list[str]:
        wl = self.wl
        exp, prefix = self.expected, self._prefix()
        errs = oracle.check_parquet(os.path.join(self.out, prefix), exp)
        columns = ["feature_id", "time", *exp.columns]
        calendar = "julian" if wl.ensemble else "proleptic_gregorian"
        errs += oracle.check_sidecar(
            os.path.join(self.out, f"{prefix}_attrs.json"), columns, calendar
        )
        if wl.job == "gridmet":
            errs += oracle.check_netcdf(os.path.join(self.out, "converted.nc"), exp)
        return errs

    def timed_job(self, description: str) -> tuple[float, bool]:
        """Clear the output, run one job, then check it (untimed)."""
        shutil.rmtree(self.out, ignore_errors=True)
        self.describe(description)
        t0 = time.perf_counter()
        try:
            self.job()
        except Exception:
            self.errors.append(traceback.format_exc(limit=3))
            return time.perf_counter() - t0, False
        elapsed = time.perf_counter() - t0
        try:
            errs = self.verify()
        except Exception:
            errs = [traceback.format_exc(limit=3)]
        self.verify_s += time.perf_counter() - t0 - elapsed
        self.errors += errs
        return elapsed, not errs

    def peak_rss_mb(self) -> tuple[float, float]:
        """High-water RSS of (this Python driver, the driver JVM), MB."""
        jvm = sum(_vm_hwm_kb(p) for p in _java_descendants(os.getpid()))
        return _vm_hwm_kb("self") / 1024.0, jvm / 1024.0

    def output_files(self) -> tuple[int, int, int]:
        """(parquet files, all files, bytes) the last job wrote."""
        parquet, _ = _tree_bytes(self.out, ".parquet")
        files, size = _tree_bytes(self.out)
        return parquet, files, size

    # -- traced layer chain --------------------------------------------
    def chain(self, spans: dict[str, list[float]]) -> list[str]:
        """Call each module's public function in plan order. Each span
        names its Spark jobs and materializes its prefix into a noop sink;
        returns the span names in order, parents first."""
        from pyspark.sql import functions as F

        from gridmet_etl_spark.operators.bbox import bbox_filter, feature_bounds, time_filter
        from gridmet_etl_spark.operators.ensemble import ensemble_median
        from gridmet_etl_spark.operators.weighted_agg import weighted_mean_wide
        from gridmet_etl_spark.plans.cfsv2 import cfsv2_median_pipeline
        from gridmet_etl_spark.plans.gridmet import gridmet_pipeline
        from gridmet_etl_spark.sources.readers import (
            read_features, read_grid, read_weights_parquet,
        )
        from gridmet_etl_spark.sources.writers import (
            CFSV2_CALENDAR, export_netcdf, write_output,
        )

        def span(name, fn):
            self.describe(name)
            t0 = time.perf_counter()
            fn()
            spans[name].append(time.perf_counter() - t0)

        def noop(df):
            return lambda: df.write.format("noop").mode("overwrite").save()

        spark, wl = self.spark, self.wl
        shutil.rmtree(self.out, ignore_errors=True)
        inp = self.inputs
        grid = read_grid(spark, self.landed)
        weights = read_weights_parquet(spark, os.path.join(inp, "weights.parquet"))
        features = read_features(spark, os.path.join(inp, "features.parquet"))
        span("readers", noop(grid))
        bounds = {}
        span("bbox.bounds", lambda: bounds.update(feature_bounds(features)))
        kept = bbox_filter(grid, bounds)
        if wl.ensemble:
            kept = time_filter(kept, *self.window())
        # a prefix is materialized with only the columns the next layer
        # reads, so column pruning matches the full plan's
        cells = ["var", "time", "i", "j", "value"]
        span("bbox", noop(kept.select(*cells)))
        names = ["readers", "bbox.bounds", "bbox"]
        agg_in = kept
        if wl.ensemble:
            agg_in = ensemble_median(kept.filter(F.col("var").isin(list(wl.source_vars))))
            span("ensemble", noop(agg_in.select(*cells)))
            names.append("ensemble")
        span("weighted_agg", noop(weighted_mean_wide(agg_in, weights, list(wl.source_vars))))
        self.describe("plans.build")  # feature_bounds runs while the plan is built
        if wl.ensemble:
            elevation = spark.read.parquet(os.path.join(inp, "elevation.parquet"))
            start, end = self.window()
            out = cfsv2_median_pipeline(grid, weights, elevation, features=features,
                                        start_date=start, end_date=end)
            write_kw = {"calendar": CFSV2_CALENDAR, "file_prefix": self._prefix()}
        else:
            out = gridmet_pipeline(grid, weights, features=features)
            write_kw = {}
        span("plans", noop(out))
        span("writers.parquet", lambda: write_output(out, self.out, **write_kw))
        names += ["weighted_agg", "plans", "writers.parquet"]
        if wl.job == "gridmet":
            converted = spark.read.parquet(os.path.join(self.out, "converted"))
            span("writers.netcdf", lambda: export_netcdf(
                converted, os.path.join(self.out, "converted.nc")))
            names.append("writers.netcdf")
        return names

    def layer_metrics(self, spans, chain, session_s, peak_rss_mb, job_times, untraced_job_s):
        self.spark.stop()
        log = EventLog(read_events(self.eventlog))

        def runs(name):  # how many times a span ran
            return max(len(spans.get(name, ())), 1)

        def task(name, key):
            return log.spans[name].task[key] / runs(name)

        def median(name):
            return statistics.median(spans[name]) if name in spans else 0.0

        def self_s(name, parent):
            if name not in spans:
                return 0.0
            return statistics.median(a - b for a, b in zip(spans[name], spans[parent]))

        def marginal(name, parent, key):
            if name not in spans:
                return 0.0
            return task(name, key) - task(parent, key)

        def top_rows(name):
            return log.top_rows(name) / runs(name)

        agg_parent = "ensemble" if "ensemble" in spans else "bbox"
        rows_in = top_rows(agg_parent)
        joined = log.metric("weighted_agg", "BroadcastHashJoin", "number of output rows",
                            "Inner") / runs("weighted_agg")
        readers_rows = task("readers", "input_records")
        ingest_files, ingest_bytes = _tree_bytes(self.landed, ".parquet")
        parquet_files, _, out_bytes = self.output_files()
        traced_total = sum(median(n) for n in chain)
        m = {
            "session.start_s": session_s,
            "session.peak_rss_mb": peak_rss_mb,
            "readers.s": median("readers"),
            "readers.rows": readers_rows,
            "readers.files": log.metric("readers", "Scan parquet", "number of files read")
            / runs("readers"),
            "readers.mb_read": log.metric("readers", "Scan parquet", "size of files read")
            / runs("readers") / 1e6,
            "bbox.bounds_s": median("bbox.bounds"),
            "bbox.rows_kept_frac": top_rows("bbox") / readers_rows,
            "ensemble.s": self_s("ensemble", "bbox"),
            "ensemble.shuffle_mb": marginal("ensemble", "bbox", "shuffle_bytes") / 1e6,
            "ensemble.shuffle_records": marginal("ensemble", "bbox", "shuffle_records"),
            "ensemble.spill_mb": marginal("ensemble", "bbox", "spill_bytes") / 1e6,
            "weighted_agg.s": self_s("weighted_agg", agg_parent),
            "weighted_agg.rows_in": rows_in,
            "weighted_agg.join_rows": joined,
            "weighted_agg.join_fanout": joined / rows_in,
            "weighted_agg.partial_rows": marginal("weighted_agg", agg_parent, "shuffle_records"),
            "weighted_agg.shuffle_mb": marginal("weighted_agg", agg_parent, "shuffle_bytes") / 1e6,
            "weighted_agg.exchanges": log.hash_exchanges("weighted_agg") / runs("weighted_agg")
            - log.hash_exchanges(agg_parent) / runs(agg_parent),
            "weighted_agg.spill_mb": marginal("weighted_agg", agg_parent, "spill_bytes") / 1e6,
            "weighted_agg.null_groups": self.expected.null_groups,
            "plans.finalize_s": self_s("plans", "weighted_agg"),
            "writers.parquet_s": self_s("writers.parquet", "plans"),
            "writers.netcdf_s": median("writers.netcdf"),
            "writers.files": parquet_files,
            "writers.rows": task("writers.parquet", "output_records"),
            "writers.mb": out_bytes / 1e6,
            "ingest.s": median("ingest"),
            "ingest.rows": task("ingest", "output_records"),
            "ingest.python_run_s": log.metric("ingest", "MapInPandas",
                                              "time to run Python workers") / runs("ingest"),
            "ingest.shuffle_mb": task("ingest", "shuffle_bytes") / 1e6,
            "ingest.files": ingest_files,
            "ingest.mb": ingest_bytes / 1e6,
            "spark.jobs": log.spans["job"].jobs / len(job_times),
            "spark.stages": len(log.spans["job"].stages) / len(job_times),
            "spark.tasks": log.spans["job"].tasks / len(job_times),
            "spark.executor_cpu_s": log.spans["job"].task["cpu_ns"] / 1e9 / len(job_times),
            "spark.gc_s": log.spans["job"].task["gc_ms"] / 1e3 / len(job_times),
            "spark.exchanges": log.hash_exchanges("job") / len(job_times),
            "trace.overhead_frac": (traced_total - untraced_job_s) / untraced_job_s,
        }
        if set(m) != set(PER_LAYER_UNITS):
            raise RuntimeError(f"per-layer metrics out of step: {set(m) ^ set(PER_LAYER_UNITS)}")
        return m


def _stop_gateway() -> None:
    """Stop the driver JVM this process started and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run(wl: Workload, seed: int, seconds: float, trace: bool, work: str) -> tuple[dict, dict]:
    load_start = os.getloadavg()
    bench = Bench(wl, seed, work, trace)
    session_s = bench.start_session()
    setup_s = session_s + bench.setup()
    t0 = time.perf_counter()
    bench.expect()
    oracle_s = time.perf_counter() - t0

    # the first job of the session, then one untimed warm job, then the
    # timed warm jobs until their summed time reaches ``seconds``
    cold_s, ok = bench.timed_job("job.cold")
    results = [ok]
    job_times: list[float] = []
    wall0 = time.perf_counter()
    _, ok = bench.timed_job("job.warmup")
    results.append(ok)
    while (sum(job_times) < seconds or len(job_times) < 3) and (
        time.perf_counter() - wall0 < WALL_LIMIT_S
    ):
        dt, ok = bench.timed_job("job")
        job_times.append(dt)
        results.append(ok)
    job_s = statistics.median(job_times)
    parquet_files, files, out_bytes = bench.output_files()
    peak_py, peak_jvm = bench.peak_rss_mb()

    if trace:
        spans: dict[str, list[float]] = defaultdict(list)
        spans["ingest"].append(bench.landing_s)  # the set-up landing
        for _ in range(CHAIN_REPS):
            names = bench.chain(spans)
        try:
            errs = bench.verify()  # the traced chain's own written output
        except Exception:
            errs = [traceback.format_exc(limit=3)]
        bench.errors += errs
        results.append(not errs)
        metrics = bench.layer_metrics(
            spans, names, session_s, peak_py + peak_jvm, job_times, job_s
        )
        units = PER_LAYER_UNITS
    else:
        metrics = {
            "job_s": job_s,
            "cold_job_s": cold_s,
            "cell_values_per_s": bench.cell_values / job_s,
            "setup_s": setup_s,
            "output_mb": out_bytes / 1e6,
        }
        units = {"job_s": "s", "cold_job_s": "s", "cell_values_per_s": "1/s",
                 "setup_s": "s", "output_mb": "MB"}
        bench.spark.stop()

    record = {
        "workload": wl.name,
        "seed": seed,
        "cpus": os.environ["SPARK_GRAFT_CPUS"],
        "job_times_s": [round(t, 4) for t in job_times],
        "cold_job_s": round(cold_s, 4),
        "setup_s": round(setup_s, 4),
        "session_start_s": round(session_s, 4),
        "oracle_s": round(oracle_s, 4),
        "peak_rss_mb_python": round(peak_py, 1),
        "peak_rss_mb_jvm": round(peak_jvm, 1),
        "verify_s": round(bench.verify_s, 4),
        "input_cell_values": bench.cell_values,
        "output_rows": bench.expected.rows,
        "output_null_groups": bench.expected.null_groups,
        "output_files": files,
        "output_parquet_files": parquet_files,
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "work_dir": os.path.relpath(work, ROOT),
        "spark_local_dir": os.path.relpath(os.environ["SPARK_GRAFT_LOCAL_DIR"], ROOT),
        "session_warnings": bench.session_warnings,
        "session_warning_note": (
            "get_spark compares extra_conf to the live conf as raw strings; a path "
            "conf such as spark.sql.warehouse.dir reads back as file:/..., so it "
            "warns 'NOT applied' although the conf took effect (known, not fixed here)"
        ),
        "errors": bench.errors[:5],
    }
    result = {
        "correct": all(results),
        "attempted": len(results),
        "failed": results.count(False),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    return record, result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    # on SIGTERM, unwind through the finally below: stop the JVM, clear the work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".e2ebench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",  # spark-submit's launcher JVM
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    try:
        record, result = run(WORKLOADS[args.workload], args.seed, args.seconds,
                             bool(args.trace), work)
    finally:
        _stop_gateway()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    print("e2ebench record " + json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        import gridmet_etl_spark  # noqa: F401  the program under test
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"e2ebench: cannot import the program under test: {exc}", file=sys.stderr)
        sys.exit(2)
    sys.exit(main())
