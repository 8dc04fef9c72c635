#!/usr/bin/env python3
"""End-to-end benchmark of the crawl engine's epoch loop.

    python3 perfbench/run.py --workload loop --seed 42 --seconds 20 --trace 0

Run from the repository root. Builds the engine and the benchmark from
source (perfbench/build.py), runs one workload in one JVM sized from the
machine (local[nproc], heap by the Tier-1 rule: MemTotal/2, 2..8 GiB),
checks the workload's outputs, and prints as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 the per-layer metrics (0 where the workload has no figure,
as the kernel has no scheduler). The line before it is the run record (cores, heap, source
digest, git SHA when there is one, load average before and after). The full
record, with spans and the stage call-site table of a traced run, goes to
.bench_out/traces/. Workloads and metrics are described in
perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

OUT_DIR = ".bench_out"
JVM_TIMEOUT_S = 170
CANONICAL_TIMEOUT_S = 900
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
# workloads outside BENCHMARK.json, run by hand: `kernel` (the operator
# kernel, with the local[1] scaling leg when traced) and `loop-canonical`
# (the full-size crawl whose seed-42 counters are pinned)
WORKLOADS = ("loop", "ingest", "kernel", "loop-canonical")
EXTRA_UNITS = {"kernel.scaling_eff": "ratio", "peak_rss_mb": "MB"}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def heap_gb() -> int:
    """Tier-1 heap rule: half of MemTotal in GiB, clamped to 2..8."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return min(8, max(2, kb // 2097152))


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def git_sha(root: Path):
    if not (root / ".git").exists():
        return None
    res = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                         capture_output=True, text=True)
    return res.stdout.strip() or None


def tracing_overhead(traces: Path, workload: str, seed: int,
                     traced_p50: float) -> float:
    """Traced minus untraced epoch_s_p50, against the untraced run of the
    same workload in this checkout: the same seed if there is one, else the
    latest (0 when there is none)."""
    same = traces / f"{workload}-s{seed}-t0.json"
    runs = [same] if same.exists() else sorted(
        traces.glob(f"{workload}-s*-t0.json"), key=lambda p: p.stat().st_mtime)
    if not runs or not traced_p50:
        return 0.0
    untraced = json.loads(runs[-1].read_text())["metrics"]["epoch_s_p50"]["value"]
    return traced_p50 - untraced


def run_jvm(root: Path, cp: str, args, out: Path):
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(out / "spark-local"))
    (out / "tmp").mkdir(parents=True)
    cmd = ([build.java(), f"-Xmx{heap_gb()}g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={out / 'tmp'}", "-Dspark.ui.enabled=false"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), str(out / "work"), str(cores()),
            str(root / "perfbench" / "golden.json")])
    timeout = (CANONICAL_TIMEOUT_S if args.workload == "loop-canonical"
               else JVM_TIMEOUT_S)
    with open(out / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE,
                                stderr=log, text=True)
        try:
            stdout, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"benchmark JVM exceeded {timeout} s")
        finally:
            # on a timeout or a signal, never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    lines = [l for l in stdout.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        tail = (out / "jvm.log").read_text()[-3000:]
        raise RuntimeError(f"benchmark JVM exited {proc.returncode}:\n{tail}")
    return json.loads(lines[-1][len("PERFBENCH_RESULT "):])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # SIGTERM unwinds like an exception, so the JVM is stopped and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = Path.cwd()
    spec = json.loads((root / "BENCHMARK.json").read_text())
    try:
        cp = build.build(root)
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    out = root / OUT_DIR / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(out, ignore_errors=True)
    load_before = loadavg()
    try:
        res = run_jvm(root, cp, args, out)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 3
    finally:
        load_after = loadavg()
        shutil.rmtree(out / "work", ignore_errors=True)
        shutil.rmtree(out / "tmp", ignore_errors=True)
        shutil.rmtree(out / "spark-local", ignore_errors=True)

    traces = root / OUT_DIR / "traces"
    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        got = dict(res.get("layers", {}))
        got["trace.overhead_s"] = tracing_overhead(
            traces, args.workload, args.seed, got.get("engine.epoch_wall_s", 0.0))
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        got = res["metrics"]
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        # a hand-run workload reports what it measures
        names = [n for n in names if n in got] + sorted(set(got) - set(names))
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    units.update(EXTRA_UNITS)
    metrics = {n: {"value": float(got.get(n, 0.0)), "unit": units[n]} for n in names}

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores(), "heap_gb": heap_gb(),
        "git_sha": git_sha(root),
        "source_digest": (root / build.BUILD_DIR / "stamp").read_text(),
        "loadavg_before": load_before, "loadavg_after": load_after,
        "metrics": metrics,
    }
    record.update({k: v for k, v in res.items()
                   if k not in ("metrics", "layers", "trace", "workload")})
    record["jvm_metrics"] = res["metrics"]
    traces.mkdir(parents=True, exist_ok=True)
    with open(traces / f"{args.workload}-s{args.seed}-t{args.trace}.json", "w") as f:
        json.dump(dict(record, trace=res.get("trace")), f, indent=1)
    shutil.rmtree(out, ignore_errors=True)

    for p in res["problems"]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(json.dumps({k: record[k] for k in
                      ("workload", "seed", "cores", "heap_gb", "git_sha",
                       "source_digest", "loadavg_before", "loadavg_after")}))
    failed = int(res["failed"])
    attempted = max(1, int(res["attempted"]))
    print(json.dumps({"correct": failed == 0 and not res["problems"],
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
