#!/usr/bin/env python3
"""The repository benchmark: one named workload, one seed, one run.

    python3 perfbench/run.py --workload sax_family --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark from source (perfbench/build.py). The run generates its inputs
from the seed, launches one benchmark JVM on local[nproc], checks every
output, and prints one JSON object as the last line of standard output:
the end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
Metric definitions and the layer-to-metric table are in perfbench/METRICS.md.

--plant-fault 1 plants one wrong result after the program has run, to show
that the checks count it in `failed`.
"""
import argparse
import contextlib
import io
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
import build  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(ROOT / "tools"))
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
RUN_LIMIT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def loadavg() -> str:
    try:
        return " ".join(Path("/proc/loadavg").read_text().split()[:3])
    except OSError:
        return ""


def cpu_ticks() -> list:
    """Aggregate CPU ticks from /proc/stat; field 7 is time stolen by the host."""
    try:
        return [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:9]]
    except (OSError, ValueError):
        return []


def steal_share(t0: list, t1: list) -> float:
    if len(t0) < 8 or len(t1) < 8:
        return 0.0
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / max(1, sum(d))


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least ten samples above it."""
    return math.floor(100 * (n - 10) / n) if n > 10 else 0


def tail_value(xs, p: int) -> float:
    s = sorted(xs)
    return s[max(0, math.ceil(p * len(s) / 100) - 1)]


def op_latencies(timed: list) -> dict:
    """One latency per distinct operation, the best over its repeats
    (sax_family runs each query once per pass; every batch is distinct),
    with the throughput block it belongs to."""
    best = {}
    for o in timed:
        prev = best.get(o["name"])
        if prev is None or o["lat_s"] < prev[0]:
            best[o["name"]] = (o["lat_s"], o["block"])
    return best


def block_throughput(best: dict) -> float:
    """Median over the throughput blocks of operations per second of
    latency."""
    blocks = {}
    for lat, block in best.values():
        blocks.setdefault(block, []).append(lat)
    return statistics.median(len(v) / sum(v) for v in blocks.values())


def run_jvm(args, classes: Path, cores: int, work: Path, data: Path, out: Path,
            deadline: float) -> dict:
    for d in ("tmp", "local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dspark.local.dir={work / 'local'}",
        f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
        f"-Dderby.system.home={work}",
        f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        # a small, always-full status store: otherwise whether its clean-up
        # has run yet moves the retained heap by up to 30 MB from seed to seed
        "-Dspark.ui.retainedJobs=100", "-Dspark.ui.retainedStages=100",
        "-Dspark.sql.ui.retainedExecutions=50",
        "-cp", f"{classes}{os.pathsep}{build.classpath()}",
        "graft.perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(cores), "--data", str(data), "--work", str(work),
        "--out", str(out), "--plant", str(args.plant_fault),
    ]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), SPARK_LOCAL_DIRS=str(work / "local"))
    log = work / "jvm.log"
    with open(log, "w") as f:
        try:
            code = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, env=env, cwd=work,
                                  timeout=max(1.0, deadline - time.time())).returncode
        except subprocess.TimeoutExpired:
            code = None
    if code != 0 or not out.exists():
        sys.stderr.write(log.read_text()[-6000:])
        raise SystemExit("benchmark JVM ran past the time limit" if code is None
                         else f"benchmark JVM failed with code {code}")
    return json.loads(out.read_text())


def oracle_failures(data: Path, verify: Path, plant: bool) -> set:
    """Query names whose written rows differ from the DuckDB oracle
    (tools/compare.py), or that could not be written."""
    if plant:
        import pyarrow.parquet as pq
        victim = sorted(p for p in verify.iterdir() if p.is_dir())[0]
        t = pq.read_table(victim)
        shutil.rmtree(victim)
        victim.mkdir()
        pq.write_table(t.slice(0, max(0, t.num_rows - 1)), victim / "part-0.parquet")
    import compare
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        compare.main(str(data), str(verify))
    failed = set()
    for line in buf.getvalue().splitlines():
        words = line.split()
        if len(words) >= 2 and words[0] == "FAIL":
            failed.add(words[1].rstrip(":"))
    return failed


def verify_rows(verify: Path, name: str) -> int:
    import pyarrow.parquet as pq
    d = verify / name
    return pq.read_table(d).num_rows if d.is_dir() else -1


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True,
                   choices=[w["name"] for w in SPEC["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=SPEC["run_seconds"])
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--plant-fault", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    load_start = loadavg()
    ticks_start = cpu_ticks()
    cores = len(os.sched_getaffinity(0))

    classes = build.build()
    # the limit counts from here: only a checkout's first run builds
    deadline = time.time() + RUN_LIMIT_S
    base = ROOT / ".bench_build"
    work = base / "work" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    os.chdir(work)  # anything a tool spills to its working directory lands here
    try:
        data = work / "data"
        data.mkdir()
        if args.workload == "sax_family":
            import gen
            gen.events_table(data, args.seed)
        res = run_jvm(args, classes, cores, work, data, work / "result.json", deadline)

        ops = res["ops"]
        failing = set()
        if args.workload == "sax_family":
            verify = Path(res["checks"]["verify_dir"])
            t0 = time.time()
            failing = oracle_failures(data, verify, bool(args.plant_fault))
            res["checks"]["oracle_s"] = time.time() - t0
            rows = {n: verify_rows(verify, n) for n in {o["name"] for o in ops}}
            failing |= {o["name"] for o in ops if o["rows"] != rows[o["name"]]}
            res["checks"]["oracle_failures"] = sorted(failing)
        failed = sum(1 for o in ops if not o["ok"] or o["name"] in failing)

        timed = [o for o in ops if o["kind"] == "timed"]
        best = op_latencies(timed)
        lats = [lat for lat, _ in best.values()]
        tail_p = tail_percentile(len(lats))
        e2e = {
            "setup_s": res["setup_s"],
            "op_p50_s": statistics.median(lats),
            "op_tail_s": tail_value(lats, tail_p),
            "ops_per_s": block_throughput(best),
            "retained_heap_mb": res["retained_heap_mb"],
        }
        per_layer = {m["name"]: 0.0 for m in SPEC["per_layer"]}
        unknown = set(res["per_layer"]) - set(per_layer)
        if unknown:
            raise SystemExit(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        per_layer.update(res["per_layer"])
        chosen = SPEC["per_layer"] if args.trace else SPEC["end_to_end"]
        values = per_layer if args.trace else e2e
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in chosen}

        artifact = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "plant_fault": args.plant_fault,
            "context": {"nproc": cores, "loadavg_start": load_start,
                        "loadavg_end": loadavg(), "probe_s": res["extra"].get("probe_s"),
                        "cpu_steal_share": steal_share(ticks_start, cpu_ticks()),
                        "timed_ops": len(timed), "tail_percentile": tail_p,
                        "timed_wall_s": res["timed_wall_s"]},
            "metrics": metrics, "checks": res["checks"], "extra": res["extra"],
            "ops": ops, "spans": res["spans"],
        }
        runs = base / "runs"
        runs.mkdir(parents=True, exist_ok=True)
        stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        (runs / f"{stem}.json").write_text(json.dumps(artifact))
        shutil.copy(work / "jvm.log", runs / f"{stem}.log")
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
