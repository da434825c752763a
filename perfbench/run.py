"""Benchmark: one workload, one seed, in a fresh process.

    python3 perfbench/run.py --workload llm_pipeline --seed 1 --seconds 10 --trace 0

Runs from any working directory; every file it writes (inputs, Spark
warehouse, scratch space, event logs, traces) goes under
``perfbench/work/``. See ``perfbench/README.md`` for the workloads and
metrics. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the metrics are the
end-to-end ones with ``--trace 0`` and the per-layer ones with
``--trace 1``.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager, nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

# Table scale (1.0 = TPC-H sf1 row counts) and corpus lines, sized so
# that one run of every workload stays under a minute on 4 cores
# (48 runs of the two workloads have to fit well inside an hour).
TABLE_SCALE = 0.005
CORPUS_LINES = 60_000
SETUP_ROUNDS = 3
# A fixed, modest driver heap. Under the package's 8g default the JVM
# grows its heap by a different amount in every run, and that spread
# would hide any real change in peak memory.
DRIVER_MEM = "2g"
# Warm passes run until --seconds have passed and at least this many
# passes are done. The first warm pass still runs code the JVM has not
# compiled yet; with three, the median leaves that pass out.
MIN_WARM_PASSES = 3


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="warm-pass window")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pinned_cpus() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def prepare_environment() -> None:
    """Keep every scratch file of Spark, the JVMs and the Python workers
    under the work directory. ``-XX:-UsePerfData`` stops both JVMs (Spark's
    launcher and the Spark driver) from writing ``/tmp/hsperfdata_<user>``."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)  # the last run's checkpoints and indexes
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_session(cpus: int, event_log: str | None):
    from simplemapreduceframework_spark import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.local.dir": os.path.join(WORK, "tmp"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark("perfbench", cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, cpus: int) -> None:
    """One fixed job that reads none of the workload's inputs but starts
    the Python workers (Arrow and RDD paths) and loads the codegen path."""
    spark.range(0, 4096, numPartitions=cpus).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    spark.sparkContext.parallelize(range(4 * cpus), cpus).map(lambda x: x + 1).count()


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for both (and the
    Python workers the JVM started) to end."""
    from pyspark import SparkContext

    started = tracing.descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in started):
        time.sleep(0.1)


class Setup:
    """The run's session and inputs, set up ``SETUP_ROUNDS`` times:
    the first round from process start (JVM launch included), later
    rounds restart the SparkContext in the same JVM. Each round relays
    the inputs into its own directory, so no cache keyed on a dead
    session or an old path can serve a later round."""

    def __init__(self, workload: str, seed: int, cpus: int, event_log: str | None):
        self.workload = workload
        self.seed = seed
        self.cpus = cpus
        self.event_log = event_log
        self.round_s: list[float] = []
        self.relayout_s: list[float] = []
        self.session_start_s = 0.0
        self.spark = None
        self.layout = None
        self.corpus = None

    def run(self) -> None:
        for r in range(SETUP_ROUNDS):
            t0 = PROCESS_START if r == 0 else time.time()
            if self.spark is not None:
                self.spark.stop()
            ts = time.time()
            self.spark = start_session(self.cpus, self.event_log)
            if r == 0:
                self.session_start_s = time.time() - ts
            tr = time.time()
            out = os.path.join(WORK, "inputs", f"round{r}")
            if self.workload == "mr_jobs":
                self.corpus = inputs.write_corpus(self.seed, CORPUS_LINES, out)
            else:
                tables = inputs.make_tables(TABLE_SCALE)
                self.layout = inputs.write_tables(tables, out, self.seed)
            self.relayout_s.append(time.time() - tr)
            warm_up(self.spark, self.cpus)
            self.round_s.append(time.time() - t0)

    @property
    def input_bytes(self) -> int:
        return self.corpus.bytes if self.corpus else self.layout.bytes

    @property
    def input_rows(self) -> int:
        if self.corpus:
            return len(self.corpus.lines) + len(self.corpus.csv_rows)
        return self.layout.rows

    def jobs(self) -> list[workloads.Job]:
        if self.workload == "mr_jobs":
            return workloads.mr_jobs(self.spark, self.corpus)
        names = workloads.WORKLOADS[self.workload]
        return workloads.registry_jobs(self.spark, names, self.layout.path)


class PassRecorder:
    """Runs job passes and keeps, per job execution, its wall time and
    (in traced passes) its per-phase observations."""

    def __init__(self, spark, tracer: tracing.Tracer, traced_run: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.traced_run = traced_run
        self.outputs: dict[str, object] = {}
        self.errors: set[str] = set()
        self.drain_s = 0.0
        if traced_run:
            self._wrap_streaming()

    def _wrap_streaming(self) -> None:
        """Time ``streaming.run_available_now`` from outside: the
        streaming queries import it from the package at call time."""
        from simplemapreduceframework_spark import streaming

        inner = streaming.run_available_now
        rec = self

        def timed(*a, **kw):
            t0 = time.time()
            try:
                return inner(*a, **kw)
            finally:
                rec.drain_s += time.time() - t0

        streaming.run_available_now = timed

    @contextmanager
    def phase(self, group: str | None, job: str, name: str, obs: dict):
        if group is None:
            yield
            return
        g = f"{group}:{job}:{name}"
        self.sc.setJobGroup(g, g)
        t0 = time.time()
        with self.tracer.span(name, job):
            try:
                yield
            finally:
                obs[name] = {"start": t0, "wall": time.time() - t0, "group": g}
                self._count_jobs(g, obs[name])

    def _count_jobs(self, group: str, out: dict) -> None:
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                si = tracker.getStageInfo(sid)
                if si is not None:
                    stages += 1
                    tasks += si.numCompletedTasks
        out.update(jobs=jobs, stages=stages, tasks=tasks)

    def run_pass(self, jobs: list[workloads.Job], label: str, traced: bool) -> dict:
        """One pass over ``jobs``; returns the pass record."""
        import counters
        from simplemapreduceframework_spark.session_memo import session_memo

        memo = session_memo(self.spark)
        acc = None
        if traced:
            acc = {k: self.sc.accumulator(0) for k in counters.NAMES}
        counters.ACTIVE = acc
        if self.traced_run and not traced:
            # keep an untraced pass's jobs out of the last traced group
            self.sc.setLocalProperty("spark.jobGroup.id", f"{label}:untraced")
        drain0 = self.drain_s
        records = []
        t_pass = time.perf_counter()
        with self.tracer.span(f"pass {label}") if traced else nullcontext():
            for job in jobs:
                obs: dict = {"job": job.name, "ok": True}
                group = label if traced else None
                memo0 = len(memo)
                t0 = time.perf_counter()
                try:
                    with self.phase(group, job.name, "construct", obs):
                        handle = job.construct()
                    with self.phase(group, job.name, "execute", obs):
                        self.outputs[job.name] = job.execute(handle)
                except Exception:  # noqa: BLE001 - a failing job is counted, not fatal
                    obs["ok"] = False
                    self.errors.add(job.name)
                    traceback.print_exc(file=sys.stderr)
                obs["wall"] = time.perf_counter() - t0
                obs["memo_added"] = len(memo) - memo0
                if isinstance(self.outputs.get(job.name), list):
                    obs["out_keys"] = len(self.outputs[job.name])
                records.append(obs)
        counters.ACTIVE = None
        return {
            "label": label,
            "traced": traced,
            "wall": time.perf_counter() - t_pass,
            "jobs": records,
            "counters": {k: v.value for k, v in (acc or {}).items()},
            "drain_s": self.drain_s - drain0,
        }


# -- correctness ----------------------------------------------------------


def check_outputs(setup: Setup, recorder: PassRecorder) -> list[str]:
    """Names of the jobs whose output is wrong. Registry jobs are re-run
    once through ``testing.compare_query`` against their DuckDB oracle on
    the same relaid inputs; MapReduce jobs' last timed outputs are
    compared with a pure-Python recount of the generated lines."""
    bad = []
    if setup.workload == "mr_jobs":
        expected = workloads.mr_expected(setup.corpus)
        for name, want in expected.items():
            got = recorder.outputs.get(name)
            if got is None or dict(got) != want or len(got) != len(want):
                print(f"check FAILED {name}: differs from the recount", file=sys.stderr)
                bad.append(name)
        return bad
    from simplemapreduceframework_spark import registry
    from simplemapreduceframework_spark.testing import compare_query, duckdb_connection

    con = duckdb_connection(setup.layout.path)
    try:
        for name in workloads.WORKLOADS[setup.workload]:
            try:
                problems = compare_query(
                    setup.spark,
                    con,
                    registry.QUERIES[name],
                    registry.ORACLES.get(name),
                    setup.layout.path,
                )
            except Exception as e:  # noqa: BLE001 - a failing check is a failed job
                problems = [f"error: {e}"]
            if problems:
                print(f"check FAILED {name}: {'; '.join(problems)}", file=sys.stderr)
                bad.append(name)
    finally:
        con.close()
    return bad


# -- metrics ----------------------------------------------------------------


def end_to_end(setup: Setup, cold: dict, warm: list[dict], peak_rss: int) -> dict:
    warm_s = statistics.median(p["wall"] for p in warm)
    return {
        "setup_s": (statistics.median(setup.round_s), "s"),
        "cold_pass_s": (cold["wall"], "s"),
        "warm_pass_s": (warm_s, "s"),
        "input_mb_per_s": (setup.input_bytes / 1e6 / warm_s, "MB/s"),
        "peak_rss_mb": (peak_rss / 1e6, "MB"),
    }


def per_layer(setup: Setup, cold: dict, warm: list[dict], groups: dict,
              cached_b: int) -> dict:
    traced = [p for p in warm if p["traced"]]
    untraced = [p for p in warm if not p["traced"]]
    n = len(traced)

    def mean(f) -> float:
        return sum(f(p) for p in traced) / n

    def phases(p, name):
        return [j[name] for j in p["jobs"] if name in j]

    def task_sum(p, attr, which=("construct", "execute")) -> float:
        return sum(
            getattr(groups.get(ph["group"], tracing.PhaseMetrics()), attr)
            for name in which
            for ph in phases(p, name)
        )

    def plan_s(p) -> float:
        total = 0.0
        for ph in phases(p, "execute"):
            starts = groups.get(ph["group"], tracing.PhaseMetrics()).sql_starts
            if starts:
                total += max(0.0, min(starts) - ph["start"])
        return total

    def exec_wall(p) -> float:
        return sum(ph["wall"] for ph in phases(p, "execute"))

    warm_jobs = [j for p in traced for j in p["jobs"]]
    map_pairs = mean(lambda p: p["counters"].get("map_pairs", 0))
    combined = mean(lambda p: p["counters"].get("combined_pairs", 0))
    return {
        "session.start_s": (setup.session_start_s, "s"),
        "sources.relayout_s": (statistics.median(setup.relayout_s), "s"),
        "sources.input_mb": (setup.input_bytes / 1e6, "MB"),
        "sources.input_rows": (setup.input_rows, "count"),
        "operators.construct_s": (mean(lambda p: sum(ph["wall"] for ph in phases(p, "construct"))), "s"),
        "operators.eager_jobs": (mean(lambda p: sum(ph["jobs"] for ph in phases(p, "construct"))), "count"),
        "operators.cold_construct_s": (sum(ph["wall"] for ph in phases(cold, "construct")), "s"),
        "operators.cold_eager_jobs": (sum(ph["jobs"] for ph in phases(cold, "construct")), "count"),
        "plans.plan_s": (mean(plan_s), "s"),
        "exec.run_s": (mean(lambda p: exec_wall(p) - plan_s(p)), "s"),
        "exec.jobs": (mean(lambda p: sum(ph["jobs"] for ph in phases(p, "execute"))), "count"),
        "exec.stages": (mean(lambda p: sum(ph["stages"] for ph in phases(p, "execute"))), "count"),
        "exec.tasks": (mean(lambda p: sum(ph["tasks"] for ph in phases(p, "execute"))), "count"),
        "exec.busy_ratio": (
            sum(task_sum(p, "run_ms", ("execute",)) for p in traced)
            / 1000.0
            / max(1e-9, sum(exec_wall(p) for p in traced) * setup.cpus),
            "ratio",
        ),
        "exec.shuffle_write_mb": (mean(lambda p: task_sum(p, "shuffle_write_b")) / 1e6, "MB"),
        "exec.shuffle_read_mb": (mean(lambda p: task_sum(p, "shuffle_read_b")) / 1e6, "MB"),
        "exec.spill_mb": (mean(lambda p: task_sum(p, "spill_b")) / 1e6, "MB"),
        "exec.gc_s": (mean(lambda p: task_sum(p, "gc_ms")) / 1000.0, "s"),
        "exec.task_failures": (sum(task_sum(p, "task_failures") for p in [cold, *traced]), "count"),
        "python.to_worker_mb": (mean(lambda p: task_sum(p, "py_sent_b")) / 1e6, "MB"),
        "python.from_worker_mb": (mean(lambda p: task_sum(p, "py_recv_b")) / 1e6, "MB"),
        "session_memo.entries_added": (sum(j["memo_added"] for j in cold["jobs"]), "count"),
        "session_memo.warm_entries_added": (sum(j["memo_added"] for j in warm_jobs), "count"),
        "session_memo.cached_mb": (cached_b / 1e6, "MB"),
        "session_memo.reuse_ratio": (
            sum(1 for j in warm_jobs if j["memo_added"] == 0) / len(warm_jobs),
            "ratio",
        ),
        "compat.map_pairs": (map_pairs, "count"),
        "compat.combined_pairs": (combined, "count"),
        "compat.combine_ratio": (combined / map_pairs if map_pairs else 0.0, "ratio"),
        "compat.reduce_keys": (mean(lambda p: sum(j.get("out_keys", 0) for j in p["jobs"])), "count"),
        "streaming.drain_s": (mean(lambda p: p["drain_s"]), "s"),
        "trace.overhead_s": (
            statistics.median(p["wall"] for p in traced)
            - statistics.median(p["wall"] for p in untraced),
            "s",
        ),
    }


def fitness(workload: str, layer: dict) -> list[str]:
    """Problems with the workload no longer stressing the layer it was
    chosen for (empty = fit). The mr/llm comparison needs the other
    workload's traced summary in the same work directory."""
    v = {k: val for k, (val, _) in layer.items()}
    problems = []
    if workload == "llm_pipeline":
        if not v["session_memo.entries_added"] > 0:
            problems.append("llm_pipeline cold pass added no session_memo entry")
        if v["session_memo.warm_entries_added"] != 0:
            problems.append("llm_pipeline warm passes added session_memo entries")
        if not v["streaming.drain_s"] > 0:
            problems.append("llm_pipeline ran no streaming.run_available_now drain")
    if workload == "mr_jobs" and not v["compat.combine_ratio"] < 1:
        problems.append("mr_jobs combine_ratio is not below 1")
    # mr_jobs' Python runs on the RDD path; the Arrow path is llm_pipeline's
    other = "llm_pipeline" if workload == "mr_jobs" else "mr_jobs"
    path = os.path.join(WORK, "trace", f"{other}-summary.json")
    if os.path.exists(path):
        with open(path) as f:
            o = json.load(f)["metrics"]["python.to_worker_mb"]["value"]
        mine = v["python.to_worker_mb"]
        mr, llm = (mine, o) if workload == "mr_jobs" else (o, mine)
        if not mr < 0.01 * llm:
            problems.append(
                f"mr_jobs python.to_worker_mb {mr:.3f} is not under 1% of "
                f"llm_pipeline's {llm:.3f}"
            )
    return problems


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import simplemapreduceframework_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    prepare_environment()
    cpus = pinned_cpus()
    traced_run = bool(args.trace)
    event_log = None
    if traced_run:
        event_log = os.path.join(WORK, "eventlog", f"{args.workload}-{args.seed}")
        shutil.rmtree(event_log, ignore_errors=True)
    tracer = tracing.Tracer()
    setup = Setup(args.workload, args.seed, cpus, event_log)
    with tracing.RssSampler() as rss:
        try:
            setup.run()
            jobs = setup.jobs()
            rec = PassRecorder(setup.spark, tracer, traced_run)
            cold = rec.run_pass(jobs, "cold", traced=traced_run)
            warm: list[dict] = []
            min_passes = MIN_WARM_PASSES
            if traced_run:
                min_passes *= 2
            t0 = time.time()
            while len(warm) < min_passes or time.time() - t0 < args.seconds:
                # a traced run alternates traced and untraced warm passes;
                # their difference is the tracing overhead
                traced = traced_run and len(warm) % 2 == 0
                warm.append(rec.run_pass(jobs, f"warm{len(warm)}", traced=traced))
            peak = rss.peak
            t_check = time.time()
            bad = check_outputs(setup, rec)
            check_s = time.time() - t_check
            app_id = setup.spark.sparkContext.applicationId
            cached_b = sum(
                s.memSize() + s.diskSize()
                for s in setup.spark.sparkContext._jsc.sc().getRDDStorageInfo()
            )
        finally:
            if setup.spark is not None:
                stop_session(setup.spark)

    passes = [cold, *warm]
    attempted = sum(len(p["jobs"]) for p in passes)
    failed = sum(1 for p in passes for j in p["jobs"] if not j["ok"] or j["job"] in bad)
    for name in sorted(set(bad) | rec.errors):
        print(f"perfbench: job {name} failed", file=sys.stderr)
    print(f"workload {args.workload}  seed {args.seed}  cpus {cpus}  "
          f"input {setup.input_bytes / 1e6:.2f} MB ({setup.input_rows} rows)")
    print("setup rounds (s): " + " ".join(f"{x:.2f}" for x in setup.round_s))
    print(f"check {check_s:.2f} s; run wall {time.time() - PROCESS_START:.2f} s")
    samples = [j["wall"] for p in warm for j in p["jobs"]]
    print(f"passes: 1 cold + {len(warm)} warm; job samples {len(samples)}")
    # printed, not BENCHMARK.json metrics: with a few jobs of very different
    # length, p50 is the middle job's time and only one or two samples lie
    # above p90 (see README.md)
    p50 = statistics.median(samples)
    p90 = statistics.quantiles(samples, n=10, method="inclusive")[8]
    print(f"job_p50_s {p50:.4f} s, job_p90_s {p90:.4f} s over {len(samples)} warm job samples")
    print("warm passes (s): " + " ".join(f"{p['wall']:.2f}" for p in warm))
    print("cold pass (s): " + " ".join(f"{j['job']}={j['wall']:.2f}" for j in cold["jobs"]))
    print("last warm pass (s): " + " ".join(f"{j['job']}={j['wall']:.2f}" for j in warm[-1]["jobs"]))
    print(f"fail_ratio {failed / attempted:.4f} ratio ({failed}/{attempted})")
    if traced_run:
        groups = tracing.read_event_log(tracing.event_log_file(event_log, app_id))
        metrics = per_layer(setup, cold, warm, groups, cached_b)
        problems = fitness(args.workload, metrics)
        for prob in problems:
            print(f"fitness FAILED: {prob}", file=sys.stderr)
        print(f"fitness {'ok' if not problems else 'FAILED'}")
        out_dir = os.path.join(WORK, "trace")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"{args.workload}-{args.seed}-spans.json"))
        summary = {
            "workload": args.workload,
            "seed": args.seed,
            "cpus": cpus,
            "fitness": problems,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        with open(os.path.join(out_dir, f"{args.workload}-summary.json"), "w") as f:
            json.dump(summary, f, indent=1)
    else:
        metrics = end_to_end(setup, cold, warm, peak)
        metrics["ok_ratio"] = (1 - failed / attempted, "ratio")
    for k, (v, u) in metrics.items():
        print(f"{k:32s} {v:14.4f} {u}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
