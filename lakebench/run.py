"""Lakehouse table benchmark: one closed-loop workload per invocation.

    python3 lakebench/run.py --workload append_scan --seed 1 --seconds 20 --trace 0

Run from the repository root. The engine package ``flink_table_store_spark``
must sit next to this directory; without it the run exits with code 3 and
prints no result. All temporary data (tables, generated batches, Spark local
dirs, JVM temp files) lives in ``.lakebench_work/`` under the current
directory and is removed at the end.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``). The line before it
starts with ``detail `` and carries per-op sample counts, medians and
tails, first/second-half medians, warm-up, working-set sizes and host
quality. See lakebench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness as H  # noqa: E402

SETUP_REPS = 3  # set-up runs per invocation; setup_s reports their median
WARMUP_BUDGET_S = 12.0

E2E = [
    ("setup_s", "s"),
    ("commit_p50_s", "s"),
    ("scan_p50_s", "s"),
    ("pruned_scan_p50_s", "s"),
    ("lookup_p50_s", "s"),
    ("compact_p50_s", "s"),
    ("ingest_rows_per_s", "rows/s"),
    ("write_amp", "ratio"),
    ("space_amp", "ratio"),
]
# peak_rss_mb is reported in the detail line only: G1's heap growth makes
# it spread by about 30% run to run on append_scan, more than any bound
# the benchmark may set.


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--periods", type=int, default=0,
                    help="run exactly this many timed periods instead of --seconds")
    ap.add_argument("--warmup-periods", type=int, default=None,
                    help="run exactly this many warm-up periods instead of warming to a plateau")
    ap.add_argument("--plant-wrong", action="store_true",
                    help="write one row the oracle does not know about before the window")
    return ap.parse_args(argv)


def configure_env(work: str) -> None:
    """Size the session from the host and keep every temp path in ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(H.host_cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{H.driver_mem_gb()}g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # the launcher JVM that spark-submit starts first, like the driver
    # JVM below, would otherwise write an hsperfdata file to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        f"--conf spark.local.dir={local} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


class Amplification:
    """Data-file bytes each op added, split into user commits and
    compaction rewrites, from the snapshots the op created (read after
    the op's clock stopped)."""

    def __init__(self, tables):
        self.tables = tables
        self.seen = {t.path: (t.snapshots.latest_id() or 0) for t in tables}
        self.user = 0
        self.rewrite = 0

    def after_op(self, op, timed: bool) -> None:
        for t in self.tables:
            latest = t.snapshots.latest_id() or 0
            for sid in range(self.seen[t.path] + 1, latest + 1):
                if not timed:
                    continue
                snap = t.snapshots.load(sid)
                added = sum(
                    e.file_size
                    for e in t.manifests.read_entries(snap.delta_manifest_list)
                    if e.kind == "ADD"
                )
                if snap.commit_kind == "COMPACT":
                    self.rewrite += added
                else:
                    self.user += added
            self.seen[t.path] = latest


def stop_spark(spark) -> None:
    """Stop the session, shut the gateway down and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=20)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "flink_table_store_spark")):
        print(f"lakebench: engine package flink_table_store_spark not found next to {HERE}", file=sys.stderr)
        return 3
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"lakebench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # named by workload and seed, not pid: paths end up inside shuffled
    # rows and manifests, and two runs of one seed should match byte for byte
    work = os.path.join(os.getcwd(), ".lakebench_work", f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)
    host = H.HostQuality()
    spark = None
    try:
        t0 = time.perf_counter()
        from flink_table_store_spark import get_spark

        spark = get_spark("lakebench")
        session_s = time.perf_counter() - t0
        result = run(spark, args, work, session_s, host)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("detail " + json.dumps(result["detail"], sort_keys=True))
    print(json.dumps(result["line"]))
    return 0


def run(spark, args, work: str, session_s: float, host: H.HostQuality) -> dict:
    from workloads import WORKLOADS

    tracer = on_op = None
    if args.trace:
        # installed before set-up: some engine entry points bind the
        # wrapped functions when a workload builds its writers
        from layertrace import Tracer

        tracer = Tracer(spark)
        tracer.install()

        def on_op(phase, op, traced):
            if phase == "start":
                tracer.begin_op(op.name, traced)
            else:
                tracer.end_op(traced, op.extra() if (traced and op.extra) else None)

    # Set up SETUP_REPS independent copies of the starting state and keep
    # the last; the first is built on a cold JVM.
    copies = [WORKLOADS[args.workload](spark, work, args.seed) for _ in range(SETUP_REPS)]
    builds = []
    for rep, copy in enumerate(copies):
        t = time.perf_counter()
        copy.build(rep)
        builds.append(time.perf_counter() - t)
        if rep < SETUP_REPS - 1:
            shutil.rmtree(copy.work_rep, ignore_errors=True)
    wl = copies[-1]
    setup_s = session_s + statistics.median(builds)
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

    rec = H.Recorder()
    amp = Amplification(wl.tables())
    loop = H.Loop(wl, rec, on_op=on_op, after_op=amp.after_op)
    if args.warmup_periods == 0:
        warm = {"periods": 0, "plateau": None, "seconds": 0.0, "period_s": [], "medians": []}
    elif args.warmup_periods:
        warm = loop.warm_up(float("inf"), min_periods=args.warmup_periods, max_periods=args.warmup_periods)
    else:
        warm = loop.warm_up(WARMUP_BUDGET_S)
    if args.plant_wrong:
        wl.plant_wrong()

    # Whole periods only, and a number fixed by --seconds and the
    # workload's nominal period (its settled period time on a 4-core
    # host), not by how fast this run happens to be: two runs, or two
    # versions of the engine, then measure exactly the same work.
    n_periods = args.periods or max(2, round(args.seconds / wl.nominal_period_s))
    w0 = time.perf_counter()
    for i in range(n_periods):
        loop.run_period(warm["periods"] + i, timed=True, traced=tracer is not None and i % 2 == 0)
    window_s = time.perf_counter() - w0
    working = wl.working_set()
    live = working["bytes"]
    on_disk = sum(H.tree_bytes(t.path) for t in wl.tables())
    rss = H.peak_rss_mb(jvm_pid)
    quality = host.finish()

    lat = {op: [s.seconds for s in rec.samples if s.op == op and not s.traced] for op in H.OPS}
    op_time = sum(s.seconds for s in rec.samples if not s.traced) or 1e-9
    e2e = {
        "setup_s": setup_s,
        "commit_p50_s": H.median(lat["commit"]),
        "scan_p50_s": H.median(lat["scan"]),
        "pruned_scan_p50_s": H.median(lat["pruned_scan"]),
        "lookup_p50_s": H.median(lat["lookup"]),
        "compact_p50_s": H.median(lat["compact"]),
        "ingest_rows_per_s": sum(s.rows for s in rec.samples if not s.traced) / op_time,
        "write_amp": (amp.user + amp.rewrite) / amp.user if amp.user else None,
        "space_amp": on_disk / live if live else None,
        "peak_rss_mb": rss,
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "session_s": round(session_s, 4),
        "setup_builds_s": [round(b, 4) for b in builds],
        "warmup": {**warm, "period_s": [round(x, 3) for x in warm["period_s"]]},
        "window": {"periods": n_periods, "seconds": round(window_s, 3)},
        "ops": op_summary(rec, n_periods),
        "working_set": working,
        "bytes": {"user": amp.user, "rewrite": amp.rewrite, "on_disk": on_disk, "live": live},
        "host_quality": quality,
        "raised": rec.raised,
        "first_error": rec.first_error,
    }
    if tracer is not None:
        tracer.uninstall()
        from layertrace import unit

        metrics = {m: {"value": v, "unit": unit(m)} for m, v in tracer.metrics().items()}
        traced = {op: [s.seconds for s in rec.samples if s.op == op and s.traced] for op in H.OPS}
        detail["tracing_overhead"] = {
            op: round(H.median(traced[op]) / H.median(lat[op]), 4)
            for op in H.OPS if traced[op] and lat[op]
        }
        detail["residual_share_max"] = {k: round(v, 4) for k, v in tracer.residual_shares().items()}
        trace_path = os.path.join(os.path.dirname(work), f"trace-{args.workload}-{args.seed}.jsonl")
        tracer.dump(trace_path)
        detail["trace_file"] = os.path.relpath(trace_path)
    else:
        metrics = {name: {"value": e2e[name], "unit": u} for name, u in E2E}
    detail["e2e"] = e2e
    line = {
        "correct": rec.failed == 0 and rec.attempted > 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": metrics,
    }
    return {"line": line, "detail": detail}


def op_summary(rec: H.Recorder, n_periods: int) -> dict:
    """Per op: samples, median, tail, and the medians of the first and
    second half of the window (by period) -- a warm-up trend left in the
    window shows as a gap between the two halves."""
    out = {}
    half = n_periods / 2
    for op in H.OPS:
        ss = [s for s in rec.samples if s.op == op and not s.traced]
        if not ss:
            continue
        xs = [s.seconds for s in ss]
        p, v = H.tail(xs)
        periods = sorted({s.period for s in ss})
        first = [s.seconds for s in ss if s.period < periods[0] + half]
        second = [s.seconds for s in ss if s.period >= periods[0] + half]
        out[op] = {
            "n": len(xs),
            "p50": round(H.median(xs), 5),
            "tail_pct": p,
            "tail": round(v, 5) if v is not None else None,
            "first_half_p50": round(H.median(first), 5) if first else None,
            "second_half_p50": round(H.median(second), 5) if second else None,
            "failed": sum(1 for s in ss if not s.ok),
        }
    return out


if __name__ == "__main__":
    sys.exit(main())
