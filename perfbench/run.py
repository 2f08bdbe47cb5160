#!/usr/bin/env python3
"""Layered benchmark of the graft engine: one command, three workloads.

    python3 perfbench/run.py --workload <inmet_etl|star_olap|curation_serve>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The first run builds the
engine and the benchmark from source with sbt (offline) and caches the
classpath under `.bench_build/`; later runs reuse it while the sources are
unchanged. Each run starts one JVM (`perfbench.Main`, local[4], one client
thread) with a private state dir under `.bench_state/` that holds its inputs,
`java.io.tmpdir`, the Spark local dir and the warehouse, and is removed at
exit. After the JVM ends, every op's output is checked against DuckDB
(`checks.py`). The last line of stdout is the JSON result: end-to-end metrics
with `--trace 0`, per-layer metrics with `--trace 1`.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
SHM = Path("/dev/shm")
WORKLOADS = ("inmet_etl", "star_olap", "curation_serve")
CORES = 4
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 needs these when it runs outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_files():
    roots = [ROOT / "build.sbt", ROOT / "project", ROOT / "src" / "main",
             BENCH / "build.sbt", BENCH / "project", BENCH / "src"]
    for r in roots:
        if r.is_file():
            yield r
        elif r.is_dir():
            for p in sorted(r.rglob("*")):
                if p.is_file() and "target" not in p.relative_to(r).parts:
                    yield p


def fingerprint():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles engine + benchmark once per source state; returns the
    runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail("no engine sources next to the benchmark (build.sbt, src/main)")
    stamp, cp_file = BUILD / "stamp", BUILD / "classpath"
    fp = fingerprint()
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == fp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g",
            f"-Djava.io.tmpdir={BUILD / 'tmp'}",
            f"-Dsbt.global.base={BUILD / 'sbt-global'}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    (BUILD / "tmp").mkdir(exist_ok=True)
    env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export perfbench/Runtime/fullClasspath"]
    log = BUILD / "build.log"
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=BENCH, env=env, stdout=out,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        wait(proc, BUILD_TIMEOUT_S)
    lines = [l.strip() for l in log.read_text().splitlines() if l.strip()]
    cp = next((l for l in reversed(lines)
               if "perfbench" in l and ".jar" in l and not l.startswith("[")), None)
    if proc.returncode != 0 or cp is None:
        print("\n".join(lines[-30:]), file=sys.stderr)
        fail(f"build failed (exit {proc.returncode}); see {log}")
    cp_file.write_text(cp)
    stamp.write_text(fp)
    return cp


def wait(proc, timeout):
    """Waits for `proc`; on timeout kills its whole process group."""
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{proc.args[0]} timed out after {timeout} s")


# ---------------------------------------------------------------- stats

def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q):
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def kendall_tau(xs):
    n = len(xs)
    if n < 2:
        return 0.0
    s = sum((xs[j] > xs[i]) - (xs[j] < xs[i])
            for i in range(n) for j in range(i + 1, n))
    return s / (n * (n - 1) / 2)


def trending(xs, min_passes=5, drift=0.2):
    """True when the timed passes move one way only, by more than `drift`
    of their median: a warm-up that was too short, or a host that drifts."""
    if len(xs) < min_passes:
        return False
    return abs(kendall_tau(xs)) == 1.0 and \
        (max(xs) - min(xs)) / median(xs) > drift


# ---------------------------------------------------------------- metrics

def end_to_end(raw):
    passes = [p["s"] for p in raw["passes"]]
    ops = [o["s"] for o in raw["ops"]]
    pass_s = median(passes)
    return {
        "setup_s": (raw["setup_s"], "s"),
        "pass_s": (pass_s, "s"),
        "op_p50_s": (median(ops), "s"),
        "op_p90_s": (percentile(ops, 90), "s"),
        "rows_per_s": (raw["input_rows"] / pass_s, "1/s"),
        "rss_peak_mb": (raw["rss_peak_mb"], "MB"),
    }


def per_layer(raw):
    traced = [p for p in raw["passes"] if p["traced"]]
    plain = [p for p in raw["passes"] if not p["traced"]]
    ids = {p["pass"] for p in traced}
    phase = {}
    for s in raw["spans"]:
        if s["pass"] in ids:
            key = (s["pass"], s["phase"])
            phase[key] = phase.get(key, 0.0) + (s["end_ns"] - s["start_ns"]) / 1e9
    media = {}
    for o in raw["ops"]:
        if o["pass"] in ids and o["op"].startswith("q_media_"):
            media[o["pass"]] = media.get(o["pass"], 0.0) + o["s"]

    def per_pass(f):
        return median([f(p) for p in traced])

    def counter(name):
        return per_pass(lambda p: p["counters"].get(name, 0.0))

    def phase_s(name):
        return per_pass(lambda p: phase.get((p["pass"], name), 0.0))

    triggers = [ms for p in traced for ms in p["trigger_ms"]]
    m = {
        "operators.construct_s": (phase_s("construct"), "s"),
        "operators.construct_jobs": (counter("operators.construct_jobs"), "count"),
        "operators.pin_jobs": (counter("operators.pin_jobs"), "count"),
        "operators.gate_jobs": (counter("operators.gate_jobs"), "count"),
        "operators.pinned_mb": (counter("operators.pinned_mb"), "MB"),
        "plans.plan_s": (phase_s("plan"), "s"),
        "plans.codegen_compiles": (per_pass(lambda p: p["codegen_compiles"]), "count"),
        "executor.execute_s": (phase_s("execute"), "s"),
        "executor.jobs": (counter("executor.jobs"), "count"),
        "executor.tasks": (counter("executor.tasks"), "count"),
        "executor.task_run_s": (counter("executor.task_run_s"), "s"),
        "executor.core_util": (per_pass(
            lambda p: p["counters"].get("executor.task_run_s", 0.0) /
            (p["s"] * CORES)), "ratio"),
        "executor.shuffle_write_mb": (counter("executor.shuffle_write_mb"), "MB"),
        "executor.shuffle_read_mb": (counter("executor.shuffle_read_mb"), "MB"),
        "executor.spill_mb": (counter("executor.spill_mb"), "MB"),
        "executor.gc_s": (per_pass(lambda p: p["gc_s"]), "s"),
        "inmet.stage_write_s": (counter("inmet.stage_write_s"), "s"),
        "inmet.analytic_write_s": (counter("inmet.analytic_write_s"), "s"),
        "inmet.scan_tasks": (counter("inmet.scan_tasks"), "count"),
        "inmet.files_written": (counter("inmet.files_written"), "count"),
        "inmet.mb_written": (counter("inmet.mb_written"), "MB"),
        "sources.index_build_s": (raw["first_touch_s"], "s"),
        "bench.session_start_s": (raw["session_start_s"], "s"),
        "bench.inputs_s": (raw["inputs_s"], "s"),
        "sources.index_mb": (raw["index_mb"], "MB"),
        "sources.index_files": (raw["index_files"], "count"),
        "streaming.triggers": (counter("streaming.triggers"), "count"),
        "streaming.trigger_p50_ms": (median(triggers), "ms"),
        "multimodal.op_s": (per_pass(lambda p: media.get(p["pass"], 0.0)), "s"),
    }
    t, u = median([p["s"] for p in traced]), median([p["s"] for p in plain])
    m["trace.overhead_pct"] = ((t / u - 1) * 100 if t and u else 0.0, "%")
    return m


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = build()
    state = ROOT / ".bench_state" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(state, ignore_errors=True)
    (state / "tmp").mkdir(parents=True)
    try:
        raw = run_jvm(cp, args, state)
        report(args, raw)
    finally:
        shutil.rmtree(state, ignore_errors=True)


def shm_checkpoints():
    """The engine keeps streaming-replay checkpoints on tmpfs when the host
    has one, outside `java.io.tmpdir`; the run removes the ones it made."""
    try:
        return {p.name for p in SHM.iterdir() if p.name.startswith("graft_")}
    except OSError:
        return set()


def run_jvm(cp, args, state):
    result = state / "result.json"
    # a fixed heap: no resizing during the window, and a peak RSS that
    # does not depend on when G1 chose to grow
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={state / 'tmp'}",
            f"-Dderby.system.home={state}",
            "-cp", cp, "perfbench.Main", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), str(state), str(result)]
    log = state / "jvm.log"
    shm_before = shm_checkpoints()
    try:
        with open(log, "w") as out:
            proc = subprocess.Popen(cmd, cwd=state, stdout=out,
                                    stderr=subprocess.STDOUT,
                                    start_new_session=True)
            wait(proc, JVM_TIMEOUT_S)
    finally:
        for name in shm_checkpoints() - shm_before:
            shutil.rmtree(SHM / name, ignore_errors=True)
    for line in log.read_text(errors="replace").splitlines():
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    if proc.returncode != 0 or not result.is_file():
        tail = log.read_text(errors="replace").splitlines()[-40:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"benchmark JVM exited with {proc.returncode}", 3)
    # the raw samples and spans of the last run, for a closer look
    shutil.copy(result, BUILD / f"last-{args.workload}.json")
    return json.loads(result.read_text())


def report(args, raw):
    import checks
    results = checks.run_checks(raw["check"])
    bad_outputs = {k: v[0] for k, v in results.items() if v[0]}
    ops = raw["ops"]
    # an op whose checked output is wrong fails every time it ran
    wrong = set(bad_outputs) if raw["check"]["kind"] == "oracle" else \
        ({"pipeline"} if bad_outputs else set())
    failed_ops = [o for o in ops if o["error"] or o["op"] in wrong]
    passes = [p["s"] for p in raw["passes"]]

    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"clients=1 cores={raw['cores']} passes={len(passes)} "
          f"op_samples={len(ops)} "
          f"trace={args.trace}")
    for name, (reason, summary) in sorted(results.items()):
        rows, dig = summary if summary else ("-", "-")
        print(f"  check {name}: {'FAIL ' + reason if reason else 'ok'} "
              f"rows={rows} digest={dig}")
    for o in failed_ops:
        print(f"  failed op {o['op']} pass {o['pass']}: "
              f"{o['error'] or 'output mismatch'}")
    print(f"  fail_ratio {len(failed_ops)}/{len(ops)}")
    print("  pass_s samples " + " ".join(f"{s:.3f}" for s in passes))
    print(f"  setup: session {raw['session_start_s']:.3f} s, inputs "
          f"{raw['inputs_s']:.3f} s, first touch {raw['first_touch_s']:.3f} s, "
          f"total {raw['setup_s']:.3f} s")
    by_op = {}
    for o in ops:
        by_op.setdefault(o["op"], []).append(o["s"])
    setup_by_op = {}
    for o in raw["setup_ops"]:
        setup_by_op.setdefault(o["op"], []).append(f"{o['s']:.3f}")
    for name, xs in sorted(by_op.items()):
        print(f"  op {name} median {median(xs):.3f} s over {len(xs)}; "
              f"set-up passes {' '.join(setup_by_op.get(name, []))}")
    tau = kendall_tau(passes)
    metrics = per_layer(raw) if args.trace else end_to_end(raw)
    if args.trace:
        metrics["bench.trend_tau"] = (tau, "ratio")
        metrics["bench.timed_passes"] = (len(passes), "count")
    for k, (v, unit) in metrics.items():
        print(f"  {k} {v:.6g} {unit}")
    if trending(passes):
        fail(f"timed passes trend one way (tau {tau:+.2f}): "
             f"{' '.join(f'{s:.3f}' for s in passes)}", 4)
    print(json.dumps({
        "correct": not failed_ops and not bad_outputs,
        "attempted": len(ops),
        "failed": len(failed_ops),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
