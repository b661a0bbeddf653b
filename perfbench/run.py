#!/usr/bin/env python3
"""Runs the engine's benchmark: S1 ingest as a stream, and a fixed
analytics query mix.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (offline) into `.bench_build/`; later
runs reuse that build while the sources are unchanged.

Workloads (see BENCHMARK.json and perfbench/README.md):
  ingest_backlog  closed loop: source -> Ingest -> partitioned parquet sink
  stream_live     open loop at a fixed rate: source -> Ingest -> ewmaStream
  query_mix       light then heavy batch queries over perfbench/data/sf0.1

The last stdout line is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics with --trace 0, the per-layer ones with
--trace 1). A stream_live run that cannot keep up with its offered rate
is invalid: it prints no result and exits with code 4. Each run's full
artifact (named metrics, checks, batches, spans, self time per layer) is
written under .bench_build/perfbench/.
"""
import argparse
import hashlib
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
BUILD = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("ingest_backlog", "stream_live", "query_mix")
INGEST = ("ingest_backlog", "stream_live")
HEAP = "4g"
# local[nproc]: the shuffle partitions, hence the query plans behind
# expected/query_mix.json, follow the core count
CPUS = len(os.sched_getaffinity(0))
# the end-to-end metric the tracing overhead is read from: the
# closed-loop rate, or, where the rate is the offered one, the latency
OVERHEAD_METRIC = {"ingest_backlog": "items_per_s", "stream_live": "latency_ms",
                   "query_mix": "items_per_s"}
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
START = time.monotonic()


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def source_files():
    """Every file the build reads from the checkout, in a stable order."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return [f for f in files if f.is_file()]


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def run_proc(cmd, timeout, cwd=ROOT, env=None, capture=True):
    """Runs cmd in its own process group; kills the group on timeout and
    always waits for it. Returns (returncode, stdout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True, text=True,
                         stdout=subprocess.PIPE if capture else None)
    try:
        out, _ = p.communicate(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, ""
    return p.returncode, out or ""


def build():
    """Classpath of the engine plus the benchmark, building if needed;
    and whether it built."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die("no engine sources at the checkout root (build.sbt, src/main/scala)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required")
    BUILD.mkdir(parents=True, exist_ok=True)
    cp_file, stamp_file, s = BUILD / "classpath.txt", BUILD / "classpath.stamp", stamp()
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == s:
        return cp_file.read_text().strip(), False
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    if "-Xmx" not in opts:
        opts += " -Xmx2g"
    opts += " -XX:-UsePerfData"
    env["SBT_OPTS"] = opts.strip()
    log("building engine and benchmark with sbt (first run in this checkout)")
    rc, out = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                       timeout=840 - (time.monotonic() - START), cwd=HERE, env=env)
    lines = [l for l in out.splitlines() if "scala-2.13/classes" in l and not l.startswith("[")]
    if rc != 0 or not lines:
        sys.stderr.write(out[-4000:])
        die(f"build failed (sbt exit {rc})")
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(s)
    return lines[-1].strip(), True


def jvm(cp, args, timeout):
    """Runs perfbench.Main; returns its artifact (dict) or None."""
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={BUILD / 'warehouse'}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    rc, out = run_proc(cmd, timeout)
    for line in out.splitlines():
        if line.startswith("PERFBENCH_ARTIFACT "):
            if rc == 0:
                return json.loads(Path(line.split(" ", 1)[1]).read_text())
    log(f"benchmark JVM failed (exit {rc}); args {' '.join(args)}")
    return None


def measure(cp, a, workload, trace, deadline):
    tag = f"{workload}-s{a.seed}-t{int(trace)}"
    args = ["--workload", workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", "1" if trace else "0", "--cpus", str(CPUS),
            "--work", str(BUILD / "work" / workload), "--data", str(HERE / "data" / "sf0.1"),
            "--expected", str(HERE / "expected" / "query_mix.json"),
            "--out", str(BUILD / "artifacts" / f"{tag}.json")]
    art = jvm(cp, args, deadline - time.monotonic())
    if art is None:
        die("run failed", 3)
    if not art["valid"]:
        die(f"run invalid: {art['invalid_reason']}", 4)
    return art


def overhead(workload, base, art, sp):
    """How much worse, in percent, the traced run's OVERHEAD_METRIC is
    than that of the untraced run `base` of the same invocation."""
    name = OVERHEAD_METRIC[workload]
    better = next(m["better"] for m in sp["end_to_end"] if m["name"] == name)
    b, t = base["metrics"][name]["value"], art["metrics"][name]["value"]
    pct = (t / b - 1 if better == "lower" else b / t - 1) * 100
    art["per_layer"]["trace.overhead_pct"] = pct
    art["trace_overhead"] = {"metric": name, "untraced": b, "traced": t, "overhead_pct": pct}


def local1(cp, a, art, deadline):
    """The local[1] baseline of the run's own transform timing."""
    if art["workload"] in INGEST:
        out = BUILD / "artifacts" / f"transform-local1-s{a.seed}.json"
        # the same envelopes the run's own transform timing used
        one = jvm(cp, ["--mode", "transform", "--seed", str(a.seed), "--cpus", "1",
                       "--envelopes", str(art["extra"]["transform_envelopes"]),
                       "--work", str(BUILD / "work" / "transform-local1"), "--out", str(out)],
                  deadline - time.monotonic())
        if one is None:
            die("local[1] transform run failed", 3)
        art["per_layer"]["ingest.transform_rows_per_s.local1"] = one["rows_per_s"]


def show(art):
    """Human-readable lines: the workload's own metric names and units."""
    w = art["workload"]
    print(f"[{w}] loadavg {art['loadavg_start']} -> {art['loadavg_end']}, "
          f"cpu steal {art['extra']['host_cpu_steal_share']:.1%}")
    for k, m in art["named"].items():
        print(f"[{w}] {k} = {m['value']:.6g} {m['unit']}")
    for k, s in art["extra"].items():
        if k.endswith("_summary"):
            print(f"[{w}] {k[:-8]}: n={s['n']} tail is {s['tail_percentile']}")
    print(f"[{w}] ops_failed_ratio = {art['ops_failed_ratio']:.6g} "
          f"({art['failed']} of {art['attempted']})")
    for c in art["checks"]:
        if not c["ok"]:
            print(f"[{w}] CHECK FAILED {c['check']}: {c['detail']}")
    if art["self_s_by_layer"]:
        top = sorted(art["self_s_by_layer"].items(), key=lambda kv: -kv[1])[:4]
        print(f"[{w}] self time by layer (s): " + ", ".join(f"{k} {v:.3f}" for k, v in top))


def result_line(art, trace, sp):
    if trace:
        names = [(m["name"], m["unit"]) for m in sp["per_layer"]]
        values = art["per_layer"]
    else:
        names = [(m["name"], m["unit"]) for m in sp["end_to_end"]]
        values = {k: v["value"] for k, v in art["metrics"].items()}
    missing = [n for n, _ in names if n not in values]
    if missing:
        die(f"metrics missing from the run: {missing}", 3)
    return {"correct": bool(art["correct"]), "attempted": int(art["attempted"]),
            "failed": int(art["failed"]),
            "metrics": {n: {"value": values[n], "unit": u} for n, u in names}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (ROOT / "BENCHMARK.json").is_file() or not (HERE / "data" / "sf0.1").is_dir():
        die("run from a checkout holding BENCHMARK.json and perfbench/")
    sp = spec()
    cp, built = build()
    # a run ends within 180 s, or 900 s when it had to build first
    deadline = START + (890 if built else 175)
    if a.workload == "all":
        arts = [measure(cp, a, w, False, time.monotonic() + 175) for w in WORKLOADS]
        for art in arts:
            show(art)
        named = {}
        for art in arts:
            for k, m in art["named"].items():
                named[f"{k}.{art['workload']}" if k == "setup_s" else k] = m
            named[f"ops_failed_ratio.{art['workload']}"] = {"value": art["ops_failed_ratio"], "unit": "1"}
        print(json.dumps({"correct": all(x["correct"] for x in arts),
                          "attempted": sum(x["attempted"] for x in arts),
                          "failed": sum(x["failed"] for x in arts), "metrics": named}))
        return
    if a.trace:
        # the untraced run first, in this invocation, for the overhead
        base = measure(cp, a, a.workload, False, deadline)
        art = measure(cp, a, a.workload, True, deadline)
        overhead(a.workload, base, art, sp)
        local1(cp, a, art, deadline)
        (BUILD / "artifacts" / f"{a.workload}-s{a.seed}-t1.json").write_text(json.dumps(art))
    else:
        art = measure(cp, a, a.workload, False, deadline)
    show(art)
    print(json.dumps(result_line(art, bool(a.trace), sp)))


if __name__ == "__main__":
    main()
