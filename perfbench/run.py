#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selfcheck

Builds the engine and the harness with sbt when their sources changed since
the last build, runs the workload in one JVM at local[<cores>], samples host
CPU steal from /proc/stat across the run, writes the run record under
perfbench/results/, and prints a summary followed by one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer metrics.

A run does a fixed list of ops once; --seconds is a floor that list is sized
to exceed, not a time budget.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
TARGET = BENCH / "target"
STAMP = TARGET / "perfbench-build.json"
WORK = BENCH / "work"
RESULTS = BENCH / "results"
MAIN = "graft.perfbench.Main"

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the engine's and the harness's."""
    roots = [ROOT / "src" / "main", BENCH / "src"]
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    files += sorted((ROOT / "project").glob("*.sbt")) + sorted((ROOT / "project").glob("*.properties"))
    files += sorted((BENCH / "project").glob("*.properties"))
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def build() -> str:
    """Compile with sbt when sources changed; return the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die("engine sources not found: run from the repository root of a full checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    digest = h.hexdigest()
    if STAMP.is_file():
        stamp = json.loads(STAMP.read_text())
        if stamp.get("sources") == digest:
            return stamp["classpath"]
    TARGET.mkdir(parents=True, exist_ok=True)
    log = TARGET / "build.log"
    # every dependency comes from the local caches; never resolve remotely
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    lines = log.read_text().splitlines()
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        die(f"build failed, see {log}", 3)
    classpath = lines[-1].strip()
    STAMP.write_text(json.dumps({"sources": digest, "classpath": classpath}))
    return classpath


def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal
    return sum(v[:8]), v[7]


class StealSampler:
    """Samples /proc/stat once a second; steal as a share of all CPU time."""

    def __init__(self):
        self.samples = []
        self._stop = threading.Event()
        self._start = cpu_times()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self):
        prev = self._start
        while not self._stop.wait(1.0):
            cur = cpu_times()
            dt = cur[0] - prev[0]
            self.samples.append(round(100.0 * (cur[1] - prev[1]) / dt, 2) if dt else 0.0)
            prev = cur

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        end = cpu_times()
        dt = end[0] - self._start[0]
        return 100.0 * (end[1] - self._start[1]) / dt if dt else 0.0


def cores() -> int:
    return len(os.sched_getaffinity(0))


def java(classpath: str, args, work: Path, log: Path, timeout: int) -> None:
    cmd = ["java"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a pre-sized heap, as graft.Bench's JVM has; -Xms3g read 10 % run-to-run
    # spread in peak RSS where -Xms2g read under 2 %
    cmd += ["-Xmx4g", "-Xms2g", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dderby.system.home={work}",
            "-cp", classpath, MAIN] + args
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"JVM timed out after {timeout} s, see {log}", 4)
    if code != 0:
        die(f"JVM exited with {code}, see {log}", 4)


def load_spec():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text()) if (ROOT / "BENCHMARK.json").is_file() else None
    if spec is None:
        die("BENCHMARK.json not found at the repository root")
    return spec


def trace_overhead(workload: str, seed: int, traced_wall: float):
    """Traced minus untraced wall_s, and which untraced runs it used.

    The untraced run of the same workload and seed is used when its record
    is in results/, else the median of every untraced record of the
    workload. With none, (None, None).
    """
    same = RESULTS / f"{workload}-seed{seed}-trace0.json"
    records = [same] if same.is_file() else sorted(RESULTS.glob(f"{workload}-seed*-trace0.json"))
    walls = [json.loads(f.read_text())["metrics"]["wall_s"]["value"] for f in records]
    if not walls:
        return None, None
    basis = f"untraced seed {seed}" if same.is_file() else f"median of {len(walls)} untraced runs"
    return traced_wall - statistics.median(walls), basis


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()

    classpath = build()
    spec = load_spec()
    tag = "selfcheck" if a.selfcheck else f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = WORK / tag
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    RESULTS.mkdir(exist_ok=True)
    result = work / "result.json"
    log = RESULTS / f"{tag}.log"

    if a.selfcheck:
        java(classpath, ["--workload", "selfcheck", "--work", str(work), "--cpus", str(cores()),
                         "--result", str(result)], work, log, 170)
        r = json.loads(result.read_text())
        shutil.rmtree(work, ignore_errors=True)
        print(json.dumps(r))
        sys.exit(0 if r["correct"] else 1)

    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        die(f"unknown workload {a.workload!r}; one of {names}")
    steal = StealSampler()
    java(classpath, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                     "--trace", str(a.trace), "--work", str(work), "--cpus", str(cores()),
                     "--ledger", str(BENCH / "ledger.json"), "--result", str(result),
                     "--spans", str(RESULTS / f"{tag}.spans.json")],
         work, log, 175)
    steal_pct = steal.stop()
    r = json.loads(result.read_text())
    shutil.rmtree(work, ignore_errors=True)

    metrics = r["metrics"]
    metrics["host.steal_pct"] = {"value": steal_pct, "unit": "%"}
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        die(f"workload produced no value for {missing}", 5)
    record = dict(r)
    record["host"] = {"cores": cores(), "steal_pct": steal_pct, "steal_pct_per_s": steal.samples}
    if a.trace:
        overhead, basis = trace_overhead(a.workload, a.seed, metrics["wall_s"]["value"])
        if overhead is None:
            # no untraced record yet: the in-JVM lower bound (bus drains and
            # trace-only counts) stands
            basis = "in-JVM drains and trace-only counts"
        else:
            metrics["trace.overhead_s"]["value"] = overhead
        record["info"]["trace_overhead_basis"] = basis
    (RESULTS / f"{tag}.json").write_text(json.dumps(record, indent=1) + "\n")

    out = {m["name"]: metrics[m["name"]] for m in wanted}
    info = r["info"]
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: {info['ops']} ops, "
          f"failed_frac {float(info['failed_frac']):.4f}, host steal {steal_pct:.1f} %")
    for k, v in metrics.items():
        if k in out or not a.trace:
            n = f" (n={info['ops']})" if k == "op_p50_s" else ""
            print(f"  {k} = {v['value']:.6g} {v['unit']}{n}")
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": out}))


if __name__ == "__main__":
    main()
