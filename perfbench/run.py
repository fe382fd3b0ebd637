#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds the engine and the
harness from source with sbt (offline); later runs reuse the build until a
source file changes. The harness JVM (perfbench.Main) does the measuring;
this script builds, launches it with the engine's own JVM flags, bounds its
run time, and turns its output into the result line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {name: {"value": v, "unit": u}}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end list; with
--trace 1 its per_layer list (0 where the workload does not reach a layer),
and the spans are written under .bench_build/traces/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
LAUNCH = HERE / "target" / "launch.txt"
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def cpus():
    return len(os.sched_getaffinity(0))


def heap_size():
    """The heap the repository's verify recipe gives the engine: half of
    physical memory, clamped to 2..8 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(max(kb // 2097152, 2), 8)}g"


def sources():
    roots = [ROOT / "src" / "main", HERE / "src" / "main"]
    files = [ROOT / "build.sbt", HERE / "build.sbt",
             ROOT / "project" / "build.properties", HERE / "project" / "build.properties"]
    for r in roots:
        files.extend(p for p in r.rglob("*") if p.is_file())
    return files


def build(env):
    srcs = sources()
    if LAUNCH.exists() and LAUNCH.stat().st_mtime >= max(p.stat().st_mtime for p in srcs):
        return
    log("building the engine and the harness with sbt")
    opts = env.get("SBT_OPTS", "-Dsbt.offline=true")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    benv = dict(env, SBT_OPTS=opts, COURSIER_MODE=env.get("COURSIER_MODE", "offline"))
    BUILD.mkdir(parents=True, exist_ok=True)
    t0 = time.time()
    with open(BUILD / "build.log", "w") as out:
        code = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "launch"],
                               cwd=HERE, env=benv, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL)
    if code != 0 or not LAUNCH.exists():
        tail = (BUILD / "build.log").read_text(errors="replace").splitlines()[-30:]
        log("build failed:\n" + "\n".join(tail))
        sys.exit(2)
    log(f"built in {time.time() - t0:.0f}s")


def cpu_ticks():
    """(steal, total) jiffies of all CPUs: steal is time the hypervisor
    gave to other guests, a measure of host contention during a run."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def run_jvm(args, env):
    lines = LAUNCH.read_text().splitlines()
    classpath, jvm_flags = lines[0], lines[1:]
    tag = f"{args.workload}-{args.seed}-t{args.trace}"
    work = BUILD / "runs" / f"{tag}-{os.getpid()}"
    tmp = BUILD / "tmp"
    for d in (work, tmp, BUILD / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + jvm_flags + [f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", str(work)])
    steal0, total0 = cpu_ticks()
    # its own process group, so a timeout also stops the server it starts
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S}s and was stopped")
        sys.exit(3)
    steal1, total1 = cpu_ticks()
    host_steal_pct = 100.0 * (steal1 - steal0) / max(total1 - total0, 1)
    if args.trace:
        traces = BUILD / "traces"
        traces.mkdir(exist_ok=True)
        for name in ("spans.jsonl", "self_ms.json"):
            if (work / name).exists():
                shutil.copy(work / name, traces / f"{tag}.{name}")
    shutil.rmtree(work, ignore_errors=True)
    last = out.strip().splitlines()[-1] if out.strip() else ""
    try:
        result = json.loads(last)
    except json.JSONDecodeError:
        log(f"harness exited {proc.returncode} without a result")
        sys.exit(3)
    result.setdefault("info", {})["host_steal_pct"] = f"{host_steal_pct:.2f}"
    return proc.returncode, result


def contract_line(result, bench, trace):
    """The result line: every listed metric with its unit. End-to-end
    metrics must all be measured; a per-layer metric the workload does not
    reach reads 0."""
    listed = bench["per_layer"] if trace else bench["end_to_end"]
    values = result["values"]
    metrics = {}
    for m in listed:
        v = values.get(m["name"])
        if v is None:
            if not trace:
                raise SystemExit(f"end-to-end metric {m['name']} was not measured")
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return {"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
            "failed": int(result["failed"]), "metrics": metrics}


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main").is_dir():
        log(f"no engine sources under {ROOT}: run from a checkout of the repository")
        sys.exit(2)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())

    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cpus())
    env["SPARK_DRIVER_MEM"] = heap_size()
    env["SPARK_LOCAL_DIRS"] = str(BUILD / "spark-local")
    build(env)

    code, result = run_jvm(args, env)
    record = BUILD / "results"
    record.mkdir(exist_ok=True)
    (record / f"{args.workload}-{args.seed}-t{args.trace}.json").write_text(json.dumps(result) + "\n")
    for k, v in result.get("info", {}).items():
        log(f"{k} = {v}")
    print(json.dumps(contract_line(result, bench, args.trace)), flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
