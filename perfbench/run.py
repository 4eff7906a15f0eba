"""The repository benchmark: one closed-loop client, one operation at a
time, Spark at ``local[nproc]``.

    python3 perfbench/run.py --workload copy --seed 1 --seconds 15 --trace 0

A run prepares its inputs from the seed (outside ``setup_s``), starts
Spark, runs its warm passes, then a fixed number of measured passes sized
from ``--seconds``. Every operation's output is checked; a failed check
counts as a failed operation. ``--trace 0`` reports the end-to-end
metrics. ``--trace 1`` runs the same untraced passes, then installs the
span wrappers and repeats them traced, and reports the per-layer metrics
and the tracing overhead. The last line of standard output is one JSON
object. Everything the run writes stays in its own directory under
``.perfbench_runs/`` at the repository root, removed at the end.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import random
import shutil
import signal
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import spans  # noqa: E402
import stats  # noqa: E402
from copyload import CopyWorkload  # noqa: E402
from lakeload import LakeIvmWorkload  # noqa: E402

WORKLOADS = {w.name: w for w in (CopyWorkload, LakeIvmWorkload)}
MATERIALIZE_MODE = "localCheckpoint"
DRIVER_MEM = "2g"
NPROC = len(os.sched_getaffinity(0))

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}
# self time is reported as a share of the traced pass time: a layer a
# workload bypasses reads 0 on every run, which must not be a time
LAYER_UNITS = {"calls": "count", "self_share": "ratio", "jobs": "count"}
NO_CALLS = {"calls": 0, "self_s": 0.0, "jobs": 0}
PER_LAYER_EXTRA = {
    "pg.partition.streams": "ratio",
    "plans.overlap.parallelism": "ratio",
    "spark.jobs": "count",
    "spark.job_s": "s",
    "spark.driver_gap_s": "s",
    "tracing.overhead": "ratio",
}


def per_layer_units() -> dict[str, str]:
    units = {
        f"{layer}.{key}": unit
        for workload in WORKLOADS.values()
        for layer in workload.layers
        for key, unit in LAYER_UNITS.items()
    }
    units.update(PER_LAYER_EXTRA)
    return units


@dataclass
class OpResult:
    name: str
    start: float  # epoch seconds, to line up with the Spark event log
    seconds: float
    ok: bool
    rows: int

    @property
    def end(self) -> float:
        return self.start + self.seconds


@dataclass
class PassResult:
    ops: list[OpResult]
    reference_s: float | None

    @property
    def seconds(self) -> float:
        return sum(o.seconds for o in self.ops)


def run_pass(workload, rng: random.Random, tracer, settle=None) -> PassResult:
    """One pass of the workload's operations. ``settle`` runs before each
    operation, outside the timed region."""
    results = []
    for name, run, check in workload.ops(rng):
        if settle is not None:
            settle()
        ok, rows = False, 0
        t0, w0 = time.perf_counter(), time.time()
        try:
            with tracer.span("op"):
                out = run()
            ok = True
        except Exception:  # a failed operation is counted, not fatal
            traceback.print_exc()
        seconds = time.perf_counter() - t0
        if ok:
            try:
                ok, rows = check(out)
            except Exception:
                traceback.print_exc()
                ok = False
            if not ok:  # wrong rows are not delivered rows
                print(f"check failed: {name}", file=sys.stderr)
                rows = 0
        results.append(OpResult(name, w0, seconds, ok, rows))
    return PassResult(results, workload.reference_s())


# ---------------- process-level measurements ----------------


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of the driver: this interpreter plus the JVM."""
    return _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm_pid)


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(root, name)).st_size
            except OSError:
                pass
    return total / 1e6


def program_fingerprint() -> str:
    """Hash of the program and benchmark sources, so recorded counts are
    compared only between runs of the same code."""
    digest = hashlib.sha256()
    for base in (os.path.join(ROOT, "pgcp_spark"), HERE):
        for root, dirs, files in os.walk(base):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    with open(os.path.join(root, name), "rb") as f:
                        digest.update(name.encode() + f.read())
    return digest.hexdigest()[:16]


# ---------------- metrics ----------------


def end_to_end(setup_s: float, passes: list[PassResult], rss_mb: float) -> dict[str, float]:
    samples = [o.seconds for p in passes for o in p.ops]
    op_tail, _, _ = stats.tail(samples)
    return {
        "setup_s": setup_s,
        "pass_s": stats.median([p.seconds for p in passes]),
        "op_p50_s": stats.median(samples),
        "op_tail_s": op_tail,
        "rows_per_s": stats.median([sum(o.rows for o in p.ops) / p.seconds for p in passes]),
        "peak_rss_mb": rss_mb,
    }


def vs_ref(passes: list[PassResult], names: tuple[str, ...]) -> float | None:
    ratios = [
        sum(o.seconds for o in p.ops if o.name in names) / p.reference_s
        for p in passes
        if p.reference_s
    ]
    return stats.median(ratios) if ratios else None


def per_op_counts(tracer, jobs, passes: list[PassResult]) -> list[dict[str, dict]]:
    """Spark jobs and psql statements per operation, one dict per pass.
    Operations run one at a time, so whatever starts inside an
    operation's interval belongs to it."""
    out = []
    for p in passes:
        row = {}
        for o in p.ops:
            inside = [j for j in jobs if o.start <= j.start <= o.end]
            psql = {}
            for s in tracer.spans:
                if s.layer.startswith("pg.psql_client.") and o.start <= s.start <= o.end:
                    psql[s.layer] = psql.get(s.layer, 0) + 1
            row[o.name] = {
                "spark.jobs": len(inside),
                "spark.job_s": sum(j.end - j.start for j in inside),
                "spark.driver_gap_s": stats.driver_gap(
                    (o.start, o.end), [(j.start, j.end) for j in inside]
                ),
                "psql": psql,
            }
        out.append(row)
    return out


def per_layer(tracer, jobs, traced: list[PassResult], untraced: list[PassResult]):
    """Per-pass layer metrics over the traced passes."""
    k = len(traced)
    lo, hi = traced[0].ops[0].start, traced[-1].ops[-1].end
    in_window = [s for s in tracer.spans if lo <= s.start <= hi]
    totals = spans.layer_totals(in_window, [j for j in jobs if lo <= j.start <= hi])
    pass_s = sum(p.seconds for p in traced)
    metrics = {}
    for workload in WORKLOADS.values():
        for layer in workload.layers:
            row = totals.get(layer, NO_CALLS)
            metrics[f"{layer}.calls"] = row["calls"] / k
            metrics[f"{layer}.self_share"] = row["self_s"] / pass_s
            metrics[f"{layer}.jobs"] = row["jobs"] / k
    part = [s for s in in_window if s.layer == "pg.partition"]
    requested = sum(s.attrs.get("requested") or 0 for s in part)
    metrics["pg.partition.streams"] = (
        sum(s.attrs["streams"] for s in part) / requested if requested else 0.0
    )
    ov = [s for s in in_window if s.layer == "plans.overlap"]
    wall = sum(s.end - s.start for s in ov)
    metrics["plans.overlap.parallelism"] = (
        sum(s.attrs.get("branch_s", 0.0) for s in ov) / wall if wall else 0.0
    )
    counts = per_op_counts(tracer, jobs, traced)
    for key in ("spark.jobs", "spark.job_s", "spark.driver_gap_s"):
        metrics[key] = sum(op[key] for row in counts for op in row.values()) / k
    metrics["tracing.overhead"] = (
        stats.median([p.seconds for p in traced]) / stats.median([p.seconds for p in untraced])
        - 1.0
    )
    return metrics, counts, totals


def count_signature(counts: list[dict[str, dict]]) -> list[dict[str, dict]]:
    """The deterministic part of the per-operation counts."""
    return [
        {op: {"spark.jobs": c["spark.jobs"], "psql": c["psql"]} for op, c in row.items()}
        for row in counts
    ]


def _diff(a: dict, b: dict) -> dict:
    return {op: (a.get(op), b.get(op)) for op in sorted(set(a) | set(b)) if a.get(op) != b.get(op)}


def check_repeatable(sig: list[dict], record: str) -> list[str]:
    """Counts must repeat across the traced passes of this run and across
    traced runs of the same code and seed (recorded in ``record``)."""
    problems = [
        f"pass {i} counts differ from pass 0: {_diff(sig[0], sig[i])}"
        for i in range(1, len(sig))
        if sig[i] != sig[0]
    ]
    if os.path.exists(record):
        with open(record) as f:
            earlier = json.load(f)
        if earlier != sig[0]:
            problems.append(f"counts differ from the traced run recorded in {record}:"
                            f" {_diff(earlier, sig[0])}")
    else:
        os.makedirs(os.path.dirname(record), exist_ok=True)
        with open(record, "w") as f:
            json.dump(sig[0], f, sort_keys=True)
    return problems


# ---------------- the run ----------------


def _stop_jvm(spark) -> None:
    """Stop Spark and wait for its JVM: it exits when its stdin closes."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc if SparkContext._gateway else None
    spark.stop()
    if proc is not None:
        SparkContext._gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def measure(args, run_dir: str, t_start: float) -> tuple[dict, int, int, bool]:
    from pgcp_spark.session import get_spark
    from pgcp_spark.transport import Transport

    workload = WORKLOADS[args.workload](run_dir, args.seed)
    spark = None
    try:
        t0 = time.perf_counter()
        workload.prepare()
        excluded = time.perf_counter() - t0

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tempfile.gettempdir()} -Dderby.system.home={run_dir}"
            ),
        }
        event_dir = os.path.join(run_dir, "events")
        if args.trace:
            os.makedirs(event_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        spark = get_spark(f"perfbench_{args.workload}", extra_conf=conf)
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid

        def settle() -> None:
            # each operation starts from collected heaps, so garbage and
            # cleanup left by the previous one are not charged to it
            gc.collect()
            spark.sparkContext._jvm.System.gc()

        tracer = spans.Tracer(spark) if args.trace else spans.NullTracer()
        workload.start(spark, tracer)
        rng = random.Random(args.seed)
        warm = [run_pass(workload, rng, tracer, settle) for _ in range(workload.warm_passes)]
        setup_s = time.perf_counter() - t_start - excluded

        n = max(1, round(args.seconds / workload.nominal_pass_s))
        untraced = [run_pass(workload, rng, tracer, settle) for _ in range(n)]
        passes = [*warm, *untraced]
        result: dict = {}
        env = {
            "nproc": NPROC,
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "seed": args.seed,
            "materialize": MATERIALIZE_MODE,
            "driver_memory": DRIVER_MEM,
            "passes": n,
            **workload.environment(),
        }
        if args.trace:
            tracer.install(Transport)
            traced = [run_pass(workload, rng, tracer, settle) for _ in range(n)]
            passes += traced
        rss = peak_rss_mb(jvm_pid)
    finally:
        if spark is not None:
            _stop_jvm(spark)
        workload.close()

    problems = []
    if args.trace:
        jobs = spans.read_jobs(event_dir)
        result, counts, totals = per_layer(tracer, jobs, traced, untraced)
        for layer in workload.layers:
            row, k = totals.get(layer, NO_CALLS), len(traced)
            print(f"layer {layer}: calls={row['calls'] / k:g}"
                  f" self_s={row['self_s'] / k:.3f} jobs={row['jobs'] / k:g}")
            if row["calls"] == 0:
                problems.append(f"layer {layer} recorded no calls")
        record = os.path.join(
            ROOT, ".perfbench_runs", "counts",
            f"{args.workload}-{args.seed}-{program_fingerprint()}.json",
        )
        problems += check_repeatable(count_signature(counts), record)
        for name, c in counts[0].items():
            print(f"op {name}: jobs={c['spark.jobs']} job_s={c['spark.job_s']:.3f}"
                  f" driver_gap_s={c['spark.driver_gap_s']:.3f} psql={c['psql']}")
        lo, hi = traced[0].ops[0].start, traced[-1].ops[-1].end
        window = [j for j in jobs if lo <= j.start <= hi]
        unattributed = sum(1 for j in window if spans.span_id(j.desc) is None)
        print(f"traced jobs without a span: {unattributed} of {len(window)}")
        print(f"tracing overhead: {result['tracing.overhead']:+.3f} of untraced pass_s")
    else:
        result = end_to_end(setup_s, untraced, rss)
        ratio = vs_ref(untraced, workload.ref_ops)
        samples = [o.seconds for p in untraced for o in p.ops]
        _, pct, count = stats.tail(samples)
        print(f"op_tail_s is p{pct:.1f} of {count} samples")
        if ratio is not None:
            print(f"vs_ref_pipe: {ratio:.4f} (copy of both large tables / reference pipe)")
        tmp_mb = dir_mb(tempfile.gettempdir())
        print(f"tmp_left_mb: {tmp_mb:.1f}")
    for i, p in enumerate(passes):
        label = "warm" if i < workload.warm_passes else f"pass {i - workload.warm_passes + 1}"
        print(f"{label}: " + " ".join(f"{o.name}={o.seconds:.2f}" for o in p.ops))
    print("environment: " + json.dumps(env, sort_keys=True))
    attempted = sum(len(p.ops) for p in passes)
    failed = sum(1 for p in passes for o in p.ops if not o.ok)
    print(f"error_rate: {stats.error_rate(attempted, failed):.4f} ({failed} of {attempted})")
    for p in problems:
        print(f"self-check failed: {p}", file=sys.stderr)
    return result, attempted, failed, not problems


def main(argv=None) -> int:
    t_start = time.perf_counter()
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    # the program reads its settings at import time
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_CPUS": str(NPROC),
        "SPARK_GRAFT_MATERIALIZE": MATERIALIZE_MODE,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
    })
    sys.path.insert(0, ROOT)
    try:
        import pgcp_spark.registry  # noqa: F401  (imports count toward setup_s)
        import pgcp_spark.transport  # noqa: F401
    except ImportError as e:
        print(f"the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    os.makedirs(tmp)
    tempfile.tempdir = tmp
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        metrics, attempted, failed, checks_ok = measure(args, run_dir, t_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    units = per_layer_units() if args.trace else END_TO_END
    print(json.dumps({
        "correct": failed == 0 and checks_ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
