"""Self-test of the benchmark itself.

    python3 lakebench/selftest.py [--workloads append_scan,curate_stream] [--seed 7]

Run from the repository root. Each check starts ``run.py`` as a child
process and reads its detail and result lines:

1. trace repeat: two traced runs with the same seed and a fixed number of
   warm-up and timed periods report identical values for every count
   metric and write_amp, and shuffle bytes and space_amp within
   NEAR_TOLERANCE;
2. residual: in those runs no op leaves more than RESIDUAL_MAX of its time
   uncovered by any span or Spark job; tracing overhead is printed;
3. oracle: a run with one planted row the oracle does not know about
   fails, and the same run without it passes (lsm_upsert's control run
   has no full compaction before its reads, so the known lost-update
   defect cannot show in it);
4. halves: in one untraced run per workload, each op's median over the
   first and the second half of the timed window agree within that op's
   bound in BENCHMARK.json;
5. no engine: in a directory holding only BENCHMARK.json and the
   benchmark, run.py exits non-zero without printing a result.

Exits 0 when every check passes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from layertrace import COUNT_METRICS  # noqa: E402

RESIDUAL_MAX = 0.25
# Counts that include bytes of engine-generated random file names
# (uuid4 data and manifest file names, compressed in shuffle blocks and
# manifests) repeat only to within a few bytes.
NEAR_EXACT = ("shuffle_write_bytes", "space_amp")
NEAR_TOLERANCE = 1e-3


def bench(*args: str, cwd: str = ROOT) -> tuple[int, dict | None, dict | None]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2 or not lines[-2].startswith("detail "):
        return p.returncode, None, None
    return p.returncode, json.loads(lines[-2][len("detail "):]), json.loads(lines[-1])


def bounds() -> dict[str, float]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["bound"] for m in spec["end_to_end"]}


def check_trace_repeat(wl: str, seed: int) -> bool:
    args = ["--workload", wl, "--seed", str(seed), "--trace", "1",
            "--warmup-periods", "1", "--periods", "2"]
    runs = [bench(*args) for _ in range(2)]
    if any(r[1] is None for r in runs):
        print(f"  FAIL {wl}: traced run did not finish")
        return False
    (_, d1, r1), (_, d2, r2) = runs
    pairs = {m: (r1["metrics"][m]["value"], r2["metrics"][m]["value"]) for m in COUNT_METRICS}
    pairs.update({k: (d1["e2e"][k], d2["e2e"][k]) for k in ("write_amp", "space_amp")})
    exact = {m: p for m, p in pairs.items() if not m.endswith(NEAR_EXACT)}
    near = {m: p for m, p in pairs.items() if m.endswith(NEAR_EXACT)}
    diff = [f"{m} {a} != {b}" for m, (a, b) in exact.items() if a != b]
    diff += [f"{m} {a} vs {b}" for m, (a, b) in near.items()
             if abs(a - b) > NEAR_TOLERANCE * max(abs(a), abs(b))]
    ok = not diff
    print(f"  {'ok  ' if ok else 'FAIL'} {wl}: {len(exact)} count metrics repeat exactly, "
          f"{len(near)} within {NEAR_TOLERANCE:.0e}" + (f"; differ: {diff[:8]}" if diff else ""))
    resid = max(d1["residual_share_max"].values())
    print(f"  {'ok  ' if resid <= RESIDUAL_MAX else 'FAIL'} {wl}: residual share max {resid:.3f}"
          f" (<= {RESIDUAL_MAX}) per op {d1['residual_share_max']}")
    print(f"       {wl}: tracing overhead (traced/untraced p50) {d1['tracing_overhead']}")
    return ok and resid <= RESIDUAL_MAX


def check_oracle(wl: str, seed: int) -> bool:
    base = ["--workload", wl, "--seed", str(seed), "--warmup-periods", "0", "--periods", "1"]
    _, _, clean = bench(*base)
    _, _, planted = bench(*base, "--plant-wrong")
    ok = bool(clean and planted and clean["failed"] == 0 and planted["failed"] > 0
              and not planted["correct"])
    print(f"  {'ok  ' if ok else 'FAIL'} {wl}: clean failed={clean and clean['failed']}, "
          f"planted failed={planted and planted['failed']}")
    return ok


def check_halves(wl: str, seed: int, bound: dict[str, float]) -> bool:
    _, d, r = bench("--workload", wl, "--seed", str(seed), "--seconds", "15")
    if d is None:
        print(f"  FAIL {wl}: run did not finish")
        return False
    ok = True
    for op, s in d["ops"].items():
        b = bound[f"{op}_p50_s"]
        a, c = s["first_half_p50"], s["second_half_p50"]
        if a is None or c is None:
            print(f"  --   {wl}.{op}: one half empty (n={s['n']})")
            continue
        gap = abs(c - a) / min(a, c)
        good = gap <= b
        ok &= good
        print(f"  {'ok  ' if good else 'FAIL'} {wl}.{op}: halves {a:.4f} / {c:.4f} s, gap {gap:.3f} (bound {b})"
              f" n={s['n']} p50={s['p50']:.4f} tail p{s['tail_pct']}={s['tail']}")
    if r["failed"]:
        print(f"  note {wl}: {r['failed']} of {r['attempted']} ops failed: {d['first_error']}")
    return ok


def check_no_engine() -> bool:
    bare = os.path.join(ROOT, ".lakebench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "lakebench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = subprocess.run(
        [sys.executable, "lakebench/run.py", "--workload", "append_scan", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180,
    )
    shutil.rmtree(bare, ignore_errors=True)
    ok = p.returncode != 0 and '"correct"' not in p.stdout
    print(f"  {'ok  ' if ok else 'FAIL'} no engine: exit {p.returncode}, stdout {p.stdout.strip()[:80]!r}")
    return ok


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="append_scan,curate_stream,lsm_upsert")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--checks", default="no_engine,oracle,trace,halves")
    args = ap.parse_args()
    wls = args.workloads.split(",")
    checks = args.checks.split(",")
    results = []
    if "no_engine" in checks:
        print("no engine:")
        results.append(check_no_engine())
    if "oracle" in checks:
        print("oracle catches a planted wrong result:")
        results += [check_oracle(w, args.seed) for w in wls]
    if "trace" in checks:
        print("traced runs repeat; residual; overhead:")
        results += [check_trace_repeat(w, args.seed) for w in wls]
    if "halves" in checks:
        print("first vs second half of the timed window:")
        b = bounds()
        results += [check_halves(w, args.seed, b) for w in wls]
    print("selftest:", "PASS" if all(results) else "FAIL")
    return 0 if all(results) else 1


if __name__ == "__main__":
    sys.exit(main())
