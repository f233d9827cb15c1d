"""Benchmark of the clickhouse_modules_spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload olap --seed 1 --seconds 10 --trace 0

Workloads: playbook, olap, ingest (see perfbench/README.md).
One client thread drives one Spark session on ``local[nproc]`` in a
closed loop of rounds; ``--seconds`` sets the number of rounds, so every
run of a workload does the same operations. Every operation's output is checked
outside the timed window.

Standard output: a detail line ``{"perfbench": {...}}`` (box snapshot,
seed, rounds, median and tail percentile of all latencies, failures,
per-kind latencies and, when traced, every per-layer metric including
per-layer times), then as
the last line ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics of a traced
window (``--trace 1``). A traced run alternates untraced and traced
rounds, so it can report the tracing overhead as the difference between
the two. Exit status is non-zero, with no result line, when the program
under test cannot be imported.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

END_TO_END = {
    "setup_s": "s",
    "op_gmean_ms": "ms",
    "op_slow_quarter_ms": "ms",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}

# Per-layer metrics of the result line of a traced run: counts, bytes,
# ratios and rates, plus the times that every workload produces.
PER_LAYER = {
    "session.setup_s": "s",
    "session.configure_calls_per_op": "count",
    "tables.pscan_calls_per_op": "count",
    "tables.schema_cache_hit_ratio": "ratio",
    "introspect.calls_per_task": "count",
    "plan.statements_per_task": "count",
    "plan.changed_ratio": "ratio",
    "catalog.bytes_written_per_task": "bytes",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.executor_run_s_per_op": "s",
    "spark.executor_cpu_s_per_op": "s",
    "spark.shuffle_write_bytes_per_op": "bytes",
    "spark.shuffle_read_bytes_per_op": "bytes",
    "spark.spill_bytes_per_op": "bytes",
    "spark.input_bytes_per_op": "bytes",
    "spark.stage_metrics_ok": "count",
    "queries.eager_jobs_per_op": "count",
    "ch_sql.calls_per_op": "count",
    "ddl.files_written": "count",
    "ddl.parts_per_table": "count",
    "streaming.batches": "count",
    "streaming.input_rows_per_s": "rows/s",
    "ingest_rows_per_s": "rows/s",
    "storage_amp": "ratio",
    "trace.overhead_ratio": "ratio",
    "trace.self_ms_per_op": "ms",
}

# Times of one layer, which read exactly 0 on the workloads that do not
# use it: printed in the detail line of a traced run only.
LAYER_TIMES = {
    "introspect.ms_per_task": "ms",
    "plan.self_ms_per_task": "ms",
    "apply.ms_per_task": "ms",
    "catalog.load_ms": "ms",
    "catalog.save_ms": "ms",
    "spark.gc_s_per_op": "s",
    "queries.build_ms": "ms",
    "queries.exec_ms": "ms",
    "ch_sql.translate_ms_per_call": "ms",
    "operators.plan_ms_per_op": "ms",
    "ddl.insert_ms": "ms",
    "ddl.mutation_ms": "ms",
    "ddl.optimize_ms": "ms",
    "ddl.select_final_ms": "ms",
    "streaming.batch_ms": "ms",
}


@dataclass
class Record:
    idx: int
    round: int
    kind: str
    label: str
    latency_s: float
    groups: list
    traced: bool = False
    ok: bool = True
    error: str | None = None
    result: object = None
    stolen: float = 0.0  # box.stolen_fraction over the operation

    @property
    def ms(self) -> float:
        """Latency in ms less the share the hypervisor gave to other
        guests: what the operation takes on a machine of its own."""
        return 1e3 * self.latency_s * (1.0 - self.stolen)

    def fail(self, why: str) -> None:
        if self.ok:
            self.ok, self.error = False, why[:500]


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["playbook", "olap", "ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def configure_env(work: str, cores: int) -> None:
    """Keep every file the run writes inside the checkout and size the
    session to the machine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        # a fixed, pre-touched heap: peak RSS then measures what lives
        # outside the Java heap instead of the collector's sizing choices
        "--conf " + shlex.quote(
            "spark.driver.extraJavaOptions=-Xms2g -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={tmp}"
        ),
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
        "pyspark-shell",
    ])


def import_program():
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import __spark_entry__  # noqa: F401
    from clickhouse_modules_spark import session

    return session


def run_window(ctx, wl, seconds: float, tracer=None):
    """Closed loop of whole rounds: ``rounds(wl, seconds)`` of them, so
    every run of a workload does the same operations whatever the speed
    of the machine.

    With a ``tracer``, untraced and traced rounds alternate (odd rounds
    traced), half of those rounds each but at least one, so the tracing
    overhead is measured on the same operations in the same process and
    a traced run costs about as much as an untraced one. They follow
    one untimed round (``rnd == -1``, records dropped): the first round
    of a process runs up to twice as slow as the next, which would
    charge warm-up to the untraced side. Returns
    (records, {traced: wall seconds spent inside rounds})."""
    import box
    import spans

    sc = ctx.spark.sparkContext
    records: list[Record] = []
    wall = {False: 0.0, True: 0.0}
    n_rounds = rounds(wl, seconds)
    if tracer is not None:
        n_rounds = 2 * max(1, n_rounds // 2)
    for rnd in range(-1 if tracer is not None else 0, n_rounds):
        traced = tracer is not None and rnd >= 0 and rnd % 2 == 1
        wl.reset(ctx, rnd)
        # every round starts from the same heap state: dead cached and
        # checkpointed blocks are only released when the JVM collects
        gc.collect()
        sc._jvm.System.gc()
        if traced:
            spans.install_layers(tracer)
            ctx.tracer = tracer
        t_round = time.perf_counter()
        try:
            for kind, label, fn in wl.ops(ctx, rnd):
                idx = len(records)
                groups: list[str] = []

                def tag(phase, _groups=groups, _idx=idx, _label=label):
                    g = f"perfbench-{'warmup-' if rnd < 0 else ''}{_idx}-{phase}"
                    _groups.append(g)
                    sc.setJobGroup(g, f"{wl.name} {_label}")

                if traced:
                    tracer.op = idx
                t0 = time.perf_counter()
                k0 = box.cpu_ticks()
                try:
                    result, err = fn(tag), None
                except Exception as e:  # counted as a failed operation
                    result, err = None, f"{type(e).__name__}: {e}"
                    traceback.print_exc(file=sys.stderr)
                lat = time.perf_counter() - t0
                stolen = box.stolen_fraction(k0, box.cpu_ticks())
                sc.setLocalProperty("spark.jobGroup.id", None)
                rec = Record(idx, rnd, kind, label, lat, groups, traced, result=result,
                             stolen=stolen)
                if err:
                    rec.fail(err)
                if rnd >= 0:
                    records.append(rec)
        finally:
            if rnd >= 0:
                wall[traced] += time.perf_counter() - t_round
            if traced:
                tracer.uninstall()
                ctx.tracer = None
    return records, wall


def rounds(wl, seconds: float) -> int:
    """Rounds per run: ``seconds`` over the share of it one round of the
    workload stands for, at least one."""
    return max(1, round(seconds / wl.seconds_per_round))


def latency_figures(records: list[Record], ms) -> dict:
    """Latency figures of ``records``, each latency read with ``ms``.

    The result line takes two of them over the round's distinct
    operations, each at its median latency over the run's rounds:
    ``op_gmean_ms`` (their geometric mean) and ``op_slow_quarter_ms``
    (the mean of the slowest quarter of them). Both move smoothly with
    every operation's latency. The median and the tail percentile of all
    latencies, single order statistics of 10 to 24 samples of 9 to 12
    unlike operations, jump when two operations swap ranks; they are
    printed in the detail line only."""
    import stats

    lat = [ms(r) for r in records]
    labels: dict[str, list[float]] = {}
    for r, v in zip(records, lat):
        labels.setdefault(r.label, []).append(v)
    per_op = [stats.median(v) for v in labels.values()]
    t = stats.tail(lat)
    return {
        "op_gmean_ms": stats.gmean(per_op),
        "op_slow_quarter_ms": stats.slowest_mean(per_op),
        "ops_per_s": 1e3 * len(lat) / sum(lat),
        "op_p50_ms": stats.median(lat),
        "op_tail_ms": t["value"],
        "tail": {k: t[k] for k in ("percentile", "samples", "samples_beyond")},
    }


def summarize(records: list[Record], wall: float) -> dict:
    """The window's figures from latencies less stolen time, the same
    figures from wall-clock latencies under ``wall_clock``, and the
    stolen share of each round's time."""
    import stats

    kinds: dict[str, list[float]] = {}
    labels: dict[str, list[float]] = {}
    by_round: dict[int, list[Record]] = {}
    for r in records:
        kinds.setdefault(r.kind, []).append(r.ms)
        labels.setdefault(r.label, []).append(r.ms)
        by_round.setdefault(r.round, []).append(r)
    rounds_ = [by_round[k] for k in sorted(by_round)]
    return {
        **latency_figures(records, lambda r: r.ms),
        "wall_clock": latency_figures(records, lambda r: 1e3 * r.latency_s),
        "stolen_by_round": [
            sum(r.latency_s * r.stolen for r in rs) / sum(r.latency_s for r in rs)
            for rs in rounds_
        ],
        "rounds": len(rounds_),
        "wall_s": wall,
        "ms_by_round": [sum(r.ms for r in rs) for rs in rounds_],
        "p50_ms_by_kind": {k: stats.median(v) for k, v in sorted(kinds.items())},
        "p50_ms_by_label": {k: stats.median(v) for k, v in sorted(labels.items())},
    }


def spark_layer(ctx, records: list[Record], wl_name: str) -> tuple[dict, str | None]:
    import spans as trace

    n = len(records)
    keys = ["jobs", "stages", "tasks"] + [k for k, _m, _s in trace.STAGE_FIELDS]
    try:
        stages = trace.stage_table(ctx.spark)
        error = None
    except Exception as e:  # private API: report the loss, keep going
        stages, error = None, f"{type(e).__name__}: {e}"[:300]
        print(f"perfbench: Spark stage counters unavailable: {error}", file=sys.stderr)
    tot = dict.fromkeys(keys, 0.0)
    eager = 0
    for r in records:
        if stages is not None:
            m = trace.spark_op_metrics(ctx.spark, r.groups, stages)
            for k in keys:
                tot[k] += m[k]
        else:
            tot["jobs"] += len(trace.jobs_for_groups(ctx.spark, r.groups))
        eager += len(trace.jobs_for_groups(ctx.spark, [g for g in r.groups if g.endswith("-build")]))
    missing = -1.0 if stages is None else None

    def per_op(k):
        return missing if missing is not None else tot[k] / n

    out = {
        "spark.jobs_per_op": tot["jobs"] / n,
        "spark.stages_per_op": per_op("stages"),
        "spark.tasks_per_op": per_op("tasks"),
        "spark.executor_run_s_per_op": per_op("executor_run_s"),
        "spark.executor_cpu_s_per_op": per_op("executor_cpu_s"),
        "spark.gc_s_per_op": per_op("gc_s"),
        "spark.shuffle_write_bytes_per_op": per_op("shuffle_write_bytes"),
        "spark.shuffle_read_bytes_per_op": per_op("shuffle_read_bytes"),
        "spark.spill_bytes_per_op": (
            missing if missing is not None
            else (tot["memory_spill_bytes"] + tot["disk_spill_bytes"]) / n
        ),
        "spark.input_bytes_per_op": per_op("input_bytes"),
        "spark.stage_metrics_ok": 0.0 if stages is None else 1.0,
    }
    if wl_name == "olap":
        out["queries.eager_jobs_per_op"] = eager / n
    return out, error


def traced_layers(ctx, tracer, records: list[Record]) -> dict:
    ops = {r.idx for r in records}
    n = len(records)

    def mean_ms(name):
        d = tracer.durations(name, ops)
        return 1e3 * sum(d) / len(d) if d else 0.0

    pscan_calls = tracer.calls("tables.pscan", ops)
    translate = tracer.durations("ch_sql.translate", ops)
    return {
        "session.configure_calls_per_op": tracer.calls("session.configure", ops) / n,
        "tables.pscan_calls_per_op": pscan_calls / n,
        "tables.schema_cache_hit_ratio": (
            tracer.counters.get("tables.pscan_hits", 0) / pscan_calls if pscan_calls else 0.0
        ),
        "queries.build_ms": mean_ms("queries.build"),
        "queries.exec_ms": mean_ms("queries.exec"),
        "ch_sql.translate_ms_per_call": (
            1e3 * sum(translate) / len(translate) if translate else 0.0
        ),
        "ch_sql.calls_per_op": len(translate) / n,
        "operators.plan_ms_per_op": 1e3 * sum(tracer.durations("operators", ops)) / n,
        "trace.self_ms_per_op": 1e3 * tracer.self_s / n,
    }


def result_line(records: list[Record], failed_pre: list[str], values: dict,
                traced: bool) -> dict:
    """The last output line: correctness, counts and the metrics of the
    run's mode, every declared metric present with its unit."""
    units = PER_LAYER if traced else END_TO_END
    return {
        "correct": not failed_pre and all(r.ok for r in records),
        "attempted": len(records),
        "failed": sum(1 for r in records if not r.ok),
        "metrics": {
            k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()
        },
    }


def stop_spark(spark) -> None:
    """Stop the session, its JVM and every process it started, and wait
    for them to end."""
    import box
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    children = box.descendants(os.getpid())
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 15
    while time.time() < deadline:
        alive = [p for p in children if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in children:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def main(argv=None) -> int:
    import box

    args = parse_args(argv)
    t_start = time.perf_counter()
    ticks_start = box.cpu_ticks()
    cores = len(os.sched_getaffinity(0))
    if not (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(ROOT, "clickhouse_modules_spark"))
    ):
        print(f"perfbench: no program under test next to {BENCH_DIR}", file=sys.stderr)
        return 2
    work = os.path.join(BENCH_DIR, ".work", f"run-{os.getpid()}")
    configure_env(work, cores)
    try:
        session = import_program()
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    import gen
    import workloads

    cache = os.path.join(BENCH_DIR, ".cache")
    t_gen = time.perf_counter()
    data_dir = gen.ensure_tables(cache)
    gen_s = time.perf_counter() - t_gen

    # setup_s: from process start to a warmed session, without the
    # benchmark's own input generation and correctness checks, and less
    # the share of it the hypervisor gave to other guests
    t_sess = time.perf_counter()
    spark = session.get_spark("perfbench")
    session_s = time.perf_counter() - t_sess
    ctx = workloads.Ctx(spark=spark, seed=args.seed, data_dir=data_dir,
                        work_dir=work, cache_dir=cache)
    try:
        wl = workloads.WORKLOADS[args.workload]()
        wl.prepare(ctx)
        setup_wall = time.perf_counter() - t_start - gen_s
        setup_stolen = box.stolen_fraction(ticks_start, box.cpu_ticks())
        setup_s = setup_wall * (1.0 - setup_stolen)
        box_before = box.snapshot(exclude={os.getpid(), *box.descendants(os.getpid())})

        phases = {"setup": setup_wall, "input_generation": gen_s}
        t = time.perf_counter()
        pre_failures = wl.precheck(ctx)
        phases["precheck"] = time.perf_counter() - t
        t = time.perf_counter()
        tracer = None
        if args.trace:
            import spans

            tracer = spans.Tracer()
        with box.RssSampler() as rss:
            all_records, wall = run_window(ctx, wl, args.seconds, tracer)
        phases["window"] = time.perf_counter() - t
        records = [r for r in all_records if not r.traced]
        summary = summarize(records, wall[False])
        layers: dict[str, float] = {}
        stage_error = None
        if tracer is not None:
            traced = [r for r in all_records if r.traced]
            tsum = summarize(traced, wall[True])
            layers.update(traced_layers(ctx, tracer, traced))
            spark_m, stage_error = spark_layer(ctx, traced, wl.name)
            layers.update(spark_m)
            layers.update(wl.layer_metrics(ctx, tracer, traced))
            layers["trace.overhead_ratio"] = tsum["op_gmean_ms"] / summary["op_gmean_ms"] - 1.0
            summary["traced"] = tsum

        t = time.perf_counter()
        wl.check(ctx, all_records)
        phases["check"] = time.perf_counter() - t
        for r in all_records:
            why = pre_failures.get(r.label) if r.kind == "query" else None
            if why:
                r.fail(why)
        if isinstance(wl, workloads.Ingest):
            layers.update(wl.rows_and_bytes(ctx, records))
        layers["session.setup_s"] = session_s
    finally:
        t = time.perf_counter()
        stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))  # only when no other run is using it
    except OSError:
        pass
    phases["stop"] = time.perf_counter() - t
    phases["total"] = time.perf_counter() - t_start

    failed = [r for r in all_records if not r.ok]
    failed_pre = sorted(k for k, v in pre_failures.items() if v)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "local_cores": cores,
        "client_threads": 1,
        "box_before": box_before,
        "box_after": box.snapshot(exclude={os.getpid()}),
        "phases_s": phases,
        "setup_stolen": setup_stolen,
        "summary": summary,
        "error_rate": len(failed) / len(all_records),
        "failures": [f"{r.label}: {r.error}" for r in failed[:20]],
        "precheck_failures": {k: pre_failures[k] for k in failed_pre},
        "peak_rss_samples": rss.samples,
        "rss_includes_jvm": rss.has_jvm,
        "spark_stage_metrics_error": stage_error,
        "notes": ctx.notes,
    }
    if isinstance(wl, workloads.Ingest):
        detail["ingest"] = {k: layers[k] for k in ("ingest_rows_per_s", "storage_amp")}
    if args.trace:
        detail["layers"] = {
            k: {"value": float(layers.get(k, 0.0)), "unit": u}
            for k, u in {**PER_LAYER, **LAYER_TIMES}.items()
        }
    print(json.dumps({"perfbench": detail}, default=str))

    if args.trace:
        values = layers
    else:
        values = {
            "setup_s": setup_s,
            "op_gmean_ms": summary["op_gmean_ms"],
            "op_slow_quarter_ms": summary["op_slow_quarter_ms"],
            "ops_per_s": summary["ops_per_s"],
            "peak_rss_mb": rss.peak / 2**20,
        }
    print(json.dumps(result_line(all_records, failed_pre, values, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
