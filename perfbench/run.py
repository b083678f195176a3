"""spark-marky benchmark: one workload per invocation, closed loop.

    python3 perfbench/run.py --workload mix_convert --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One driver process on ``local[<nproc>]``
runs the workload's job back to back for ``--seconds`` (at least once)
and prints human-readable lines, then one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics (and writes
the recorded spans under ``perfbench_traces/``). Exits 1 when any
correctness check fails, 2 when the package is not there to run.
"""
from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

from probes import KERNEL_KINDS  # this directory; imports no pyspark

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
INPUT_REPS = 3      # input builds per run; setup_s takes their median
TRACED_JOBS = 2     # traced jobs per traced run


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``work``, and let the workers import the package and this directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the JVM that spark-submit runs first to build the driver's command
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])


class Session:
    """The SparkSession, with the JVM and its workers stopped on close."""

    def __init__(self, work: str, cores: int):
        self.work = work
        self.cores = cores
        self.spark = None
        self._proc = None

    def start(self):
        from marky_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        self.spark = get_spark(app="perfbench", master=f"local[{self.cores}]",
                               confs={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        })
        self.spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext

        self._proc = getattr(SparkContext._gateway, "proc", None)
        return self.spark

    def warm_up(self) -> None:
        """Start the Python workers on every task slot."""
        from workloads import _identity

        n = self.cores * 2
        (self.spark.range(n, numPartitions=n)
         .mapInPandas(_identity, schema="id long").count())

    def close(self) -> None:
        from probes import alive, descendants

        children = descendants(os.getpid())
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self._proc is not None:
            # the gateway JVM exits on EOF of its stdin
            if self._proc.stdin:
                self._proc.stdin.close()
            try:
                self._proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self._proc.kill()
                self._proc.wait()
        # the Python workers exit once the JVM is gone; wait for them
        deadline = time.monotonic() + 30
        while children and time.monotonic() < deadline:
            children = [p for p in children if alive(p)]
            time.sleep(0.05)
        for pid in children:
            with contextlib.suppress(OSError):
                os.kill(pid, signal.SIGKILL)


def _q(values: list[float]) -> str:
    if len(values) < 2:
        return f"{values[0]:.4g}" if values else "-"
    q = statistics.quantiles(values, n=4)
    return f"p25={q[0]:.4g} p50={statistics.median(values):.4g} p75={q[2]:.4g}"


def benchmark(args, work: str, cores: int, rss) -> tuple[dict, list[str]]:
    import gate
    import probes
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.seed, work, cores)
    lines: list[str] = []
    errors: list[str] = []
    session = Session(work, cores)
    marks = [("start", time.perf_counter())]
    try:
        # ---- set-up: the session with its Python workers once, then the
        # inputs generated, persisted and counted INPUT_REPS times
        t0 = time.perf_counter()
        spark = session.start()
        session.warm_up()
        start_s = time.perf_counter() - t0
        gens = []
        for _ in range(INPUT_REPS):
            t0 = time.perf_counter()
            wl.build_inputs(spark)
            gens.append(time.perf_counter() - t0)
        setup_s = start_s + statistics.median(gens)
        marks.append(("setup", time.perf_counter()))

        # ---- checks outside the timed window
        errors += gate.golden_slice_errors(spark)
        errors += gate.binary_golden_errors()
        wl.prepare_checks()
        marks.append(("checks", time.perf_counter()))
        # untimed, checked jobs: the first jobs of a process pay worker
        # imports, codegen, class loading and JIT compilation (and the
        # first parquet, lineage and manifest writes of the durable job);
        # job walls fall over the first few jobs before they level out
        untraced = probes.Tracer(enabled=False)
        warm = [wl.run(spark, untraced) for _ in range(wl.warm_up_jobs)]
        marks.append(("warm-up", time.perf_counter()))

        # ---- the timed window: untraced jobs back to back
        jobs = []
        t_window = time.perf_counter()
        while not jobs or time.perf_counter() - t_window < args.seconds:
            jobs.append(wl.run(spark, untraced))
        marks.append(("window", time.perf_counter()))
        control = probes.control_docs_per_s()
        load1 = os.getloadavg()[0]
        marks.append(("control", time.perf_counter()))

        # ---- traced jobs and layer probes
        layers: dict[str, float] = {}
        traced = []
        if args.trace:
            tracer = probes.Tracer(enabled=True)
            stages = probes.StageMetrics(spark)
            roots, spark_totals = [], []
            for _ in range(TRACED_JOBS):
                with stages.group() as totals, tracer.span("job") as root:
                    traced.append(wl.run(spark, tracer))
                roots.append(root)
                spark_totals.append(totals)
            layers = wl.layer_metrics(spark, traced)
            layers.update(probes.kernel_sample(wl.kernel_docs()))
            layers.update(_trace_metrics(tracer, roots, jobs, traced,
                                         spark_totals))
            layers.update({
                "session.start_s": start_s,
                "corpus.gen_s": statistics.median(gens),
                "peak_rss_mb": rss.peak_bytes / 1e6,
            })
            tracer.dump(os.path.join(
                ROOT, "perfbench_traces",
                f"{wl.name}-seed{args.seed}.json"))
            marks.append(("traced", time.perf_counter()))
    finally:
        session.close()
    marks.append(("close", time.perf_counter()))

    measured = warm + jobs + traced
    errors += wl.errors
    ok = [j.summary["ok"] for j in jobs]
    rates = [n / j.wall_s for n, j in zip(ok, jobs)]
    failed = sum(j.failed for j in measured)
    attempted = wl.n_docs * len(measured)
    for j in measured:
        if j.mismatches:
            errors.append(f"sampled rows differ from convert_document: "
                          f"{j.mismatches[:3]}")
    digests = {j.summary["digest"] for j in measured}
    if len(digests) != 1:
        errors.append(f"output digest differs between jobs: {digests}")
    e2e = {
        "docs_per_s": (statistics.median(rates), "docs/s"),
        "resume_s": (statistics.median([j.resume_s for j in jobs]), "s"),
        "setup_s": (setup_s, "s"),
    }
    lines += [
        f"workload={wl.name} seed={args.seed} docs={wl.n_docs} "
        f"warm_up_jobs={len(warm)} jobs={len(jobs)} traced_jobs={len(traced)} "
        f"cores={cores}",
        "docs_per_s: " + _q(rates) + " docs/s",
        "job_wall_s: " + _q([j.wall_s for j in jobs]) + " s",
        "resume_s: " + _q([j.resume_s for j in jobs]) + " s",
        f"setup_s: {setup_s:.4g} s (session {start_s:.4g} s + median of "
        "inputs " + " ".join(f"{g:.4g}" for g in gens) + " s)",
        f"peak_rss_mb: {rss.peak_bytes / 1e6:.1f} MB",
        f"failed_frac: {failed / attempted:.6g} ({failed}/{attempted})",
        f"control: kernel_1t_docs_s={control:.1f} nproc={cores} "
        f"loadavg1={load1:.2f}",
        f"output digest: {sorted(digests)[0]} (seed {args.seed})",
        "phases: " + " ".join(f"{name}={t - prev:.1f}s" for (_, prev),
                              (name, t) in zip(marks, marks[1:])),
    ]

    lines += [f"ERROR {e}" for e in errors]
    correct = not errors and failed == 0
    if args.trace:
        layers["control.kernel_1t_docs_s"] = control
        layers["control.nproc"] = cores
        layers["control.loadavg1"] = load1
        layers["package.loc"] = probes.package_loc(ROOT)
        unknown = set(layers) - set(UNITS)
        if unknown:
            raise KeyError(f"per-layer metrics missing from UNITS: {unknown}")
        # a layer not on this workload's path did no work: it reports 0
        metrics = {k: {"value": layers.get(k, 0), "unit": u}
                   for k, u in UNITS.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    return ({"correct": correct, "attempted": attempted, "failed": failed,
             "metrics": metrics}, lines)


def _trace_metrics(tracer, roots, jobs, traced, spark_totals) -> dict:
    """Per-layer self time of the traced jobs, the untraced remainder,
    the tracing overhead, and Spark's stage metrics of those jobs."""
    med = statistics.median
    selfs = [tracer.self_times(r) for r in roots]
    out = {
        "trace.job_s": med([r.end - r.start for r in roots]),
        "trace.remainder_s": med([s.get("remainder", 0.0) for s in selfs]),
        "trace.overhead_frac": med([j.wall_s for j in traced])
        / med([j.wall_s for j in jobs]) - 1.0,
        "convert.stage_s": med([sum(sp.end - sp.start for sp in tracer.spans
                                    if sp.name == "convert.convert"
                                    and r.start <= sp.start <= r.end)
                                for r in roots]),
        "convert.ok_ratio": sum(j.summary["ok"] for j in traced)
        / sum(j.summary["rows"] + j.summary["drops"] for j in traced),
    }
    for layer in LAYERS:
        out[f"trace.self.{layer}_s"] = med([s.get(layer, 0.0) for s in selfs])
    for key in spark_totals[0]:
        out[f"convert.{key}"] = med([t[key] for t in spark_totals])
    return out


#: layers a benchmark job's spans can land in (the ingest probe runs
#: outside the traced jobs)
LAYERS = ("convert", "pipeline")

#: every per-layer metric with its unit (BENCHMARK.json lists the same)
UNITS = {
    "session.start_s": "s", "corpus.gen_s": "s", "peak_rss_mb": "MB",
    **{f"kernels.{k}.us_per_doc": "us" for k in KERNEL_KINDS},
    **{f"kernels.{k}.docs": "count" for k in KERNEL_KINDS},
    "convert.stage_s": "s", "convert.floor_s": "s", "convert.tasks": "count",
    "convert.failed_tasks": "count", "convert.run_s": "s",
    "convert.cpu_s": "s", "convert.deserialize_s": "s", "convert.gc_s": "s",
    "convert.dispatch_us_per_doc": "us", "convert.ok_ratio": "ratio",
    "ingest.parse_s": "s", "ingest.records": "count", "ingest.drops": "count",
    "ingest.mb_per_s": "MB/s",
    "pipeline.skew_split_s": "s", "pipeline.tail_docs": "count",
    "pipeline.waves": "count", "pipeline.wave_p50_s": "s",
    "pipeline.wave_max_s": "s", "pipeline.wave_overhead_s": "s",
    "pipeline.bytes_written": "bytes", "pipeline.files_written": "count",
    "pipeline.read_output_s": "s",
    "trace.job_s": "s", "trace.remainder_s": "s", "trace.overhead_frac": "ratio",
    **{f"trace.self.{layer}_s": "s" for layer in LAYERS},
    "control.kernel_1t_docs_s": "docs/s", "control.nproc": "count",
    "control.loadavg1": "load", "package.loc": "lines",
}


def main(argv: list[str]) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "marky_spark")):
        print(f"perfbench: no marky_spark package under {ROOT}; run from "
              "the root of a checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    _environment(work)  # before pyspark is imported: it reads TMPDIR
    sys.path[:0] = [ROOT, HERE]
    from probes import RssSampler
    from workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    try:
        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; one of "
                  f"{sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        with RssSampler() as rss:
            result, lines = benchmark(args, work, cores, rss)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may share it
            os.rmdir(os.path.dirname(work))
    for line in lines:
        print(f"perfbench: {line}")
    for k, v in result["metrics"].items():
        print(f"perfbench: {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
