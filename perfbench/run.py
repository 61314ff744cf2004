#!/usr/bin/env python3
"""openEO request benchmark for graft.

Runs one workload of `SparkEntry.queries` keys as a closed loop (one client,
one request at a time) in a fresh JVM with a `local[nproc / 2]` session,
checks every output against its pinned fingerprint, and prints the metrics.
Run from the root of a checkout:

    python3 perfbench/run.py --workload cube_sync --seed 1 --seconds 14 --trace 0

The last stdout line is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. The lines before it give the
provenance, the error ratio and the per-key detail file. The program is
compiled from source on first use (perfbench/build.sh) into
`.bench_build/graftbench`.
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

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import benchlib  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
BUILD = ROOT / ".bench_build" / "graftbench"
DEADLINE_S = 170  # seconds for the whole command after the build
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("SPARK_HOME is not set and spark-submit is not on PATH")
        home = str(Path(os.path.realpath(submit)).parent.parent)
    return f"{home}/jars/*"


def source_digest():
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", HERE / "scala", HERE / "build.sh"]
    for r in roots:
        files = [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile graft and RequestBench unless the sources are unchanged."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail("no graft sources (src/main/scala) under the current directory")
    digest = source_digest()
    stamp = BUILD / "stamp"
    classes = BUILD / "classes"
    if stamp.is_file() and stamp.read_text() == digest and classes.is_dir():
        return classes, digest
    BUILD.mkdir(parents=True, exist_ok=True)
    log = BUILD / "build.log"
    with open(log, "w") as f:
        r = subprocess.run(["bash", str(HERE / "build.sh"), str(classes)],
                           cwd=ROOT, stdout=f, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail("build failed")
    stamp.write_text(digest)
    return classes, digest


def mem_total_mb():
    try:
        for line in open("/proc/meminfo"):
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    except OSError:
        pass
    return None


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return None


def host_probe_s():
    """Seconds a fixed single-threaded loop takes: a reading of how fast the
    host ran around the measurement, to tell a noisy run apart."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return time.perf_counter() - t


def run_jvm(classes, args, log_path, budget_s):
    """Run the RequestBench JVM to completion; kill its process group on timeout."""
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           # a fixed-size heap under the throughput collector: G1 grew the
           # heap differently in each JVM, and the runs with the large heaps
           # were the slow ones
           + ["-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
              f"-Djava.io.tmpdir={args['tmp']}",
              "-cp", f"{classes}:{spark_jars()}", "graftbench.RequestBench"]
           + [x for k, v in args["flags"].items() for x in (f"--{k}", str(v))])
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"RequestBench JVM exceeded {budget_s:.0f} s; log: {log_path}")
    if rc != 0:
        sys.stderr.write(Path(log_path).read_text()[-4000:])
        fail(f"RequestBench JVM exited with {rc}; log: {log_path}")


def check_outputs(records, expected):
    """Compare every request's output with its pinned fingerprint. Returns
    (attempted, threw, mismatched, problems)."""
    threw, mismatched, problems = 0, 0, []
    for r in records:
        exp = expected[r["key"]]
        if r["error"]:
            threw += 1
            problems.append(f"{r['key']}: threw {r['error']}")
        elif exp["check"] == "rows":
            if r["rows"] != exp["rows"] or r["schema"] != exp["schema"]:
                mismatched += 1
                problems.append(f"{r['key']}: rows/schema {r['rows']} {r['schema']}")
        elif r["hash"] != exp["hash"] or r["rows"] != exp["rows"]:
            mismatched += 1
            problems.append(f"{r['key']}: fingerprint {r['hash'][:12]} rows {r['rows']}")
    return len(records), threw, mismatched, problems


def end_to_end(ev, reqs):
    setups = [e for e in ev if e["type"] == "setup"]
    passes = [e for e in ev if e["type"] == "pass" and not e["traced"]]
    lat = [r["end"] - r["start"] for r in reqs]
    pct, tail = benchlib.tail_percentile(lat)
    end = next(e for e in ev if e["type"] == "end")
    metrics = {
        "setup_s": (benchlib.median([s["wall_s"] for s in setups]), "s"),
        "pass_s": (benchlib.median([p["wall_s"] for p in passes]), "s"),
        "latency_p50_s": (benchlib.median(lat), "s"),
        "latency_tail_s": (tail, "s"),
        "cpu_s": (benchlib.median([p["cpu_s"] for p in passes]), "s"),
        "peak_rss_mb": (end["peak_rss_mb"], "MB"),
    }
    return metrics, {"latency_samples": len(lat), "tail_percentile": round(pct, 2)}


def per_layer(ev):
    setups = [e for e in ev if e["type"] == "setup"]
    tpass = [e for e in ev if e["type"] == "pass" and e["traced"]]
    upass = [e for e in ev if e["type"] == "pass" and not e["traced"]]
    traced = {e["pass"] for e in tpass}
    reqs = [e for e in ev if e["type"] == "req" and e["pass"] in traced]
    jobs = [e for e in ev if e["type"] == "job"]
    end = next(e for e in ev if e["type"] == "end")
    n = len(tpass)

    def per_pass(xs):
        return sum(xs) / n

    def jsum(phase, field):
        return per_pass([j[field] for j in jobs if j["phase"] == phase])

    spans = benchlib.build_spans(reqs, jobs)
    selft = benchlib.self_times(spans)
    ex_tasks = sum(j["tasks"] for j in jobs if j["phase"] == "exec")
    m = {
        "setup.session_s": (benchlib.median([s["session_s"] for s in setups]), "s"),
        "setup.warm_s": (benchlib.median([s["warm_s"] for s in setups]), "s"),
        "build.s": (per_pass([r["build_s"] for r in reqs]), "s"),
        "build.self_s": (per_pass([selft[s["id"]] for s in spans
                                   if s["kind"] == "phase" and s["name"] == "build"]), "s"),
        "build.jobs": (per_pass([1 for j in jobs if j["phase"] == "build"]), "count"),
        "build.tasks": (jsum("build", "tasks"), "count"),
        "build.shuffle_mb": (jsum("build", "shuffle_read_mb") + jsum("build", "shuffle_write_mb"), "MB"),
        "plan.s": (per_pass([r["plan_s"] for r in reqs]), "s"),
        "plan.nodes": (per_pass([r["plan_nodes"] for r in reqs]), "count"),
        "plan.exchanges": (per_pass([r["plan_exchanges"] for r in reqs]), "count"),
        # whole run, set-ups included: the timed passes of most keys hit the
        # codegen cache and compile nothing
        "codegen.compile_s": (end["codegen_s"], "s"),
        "codegen.classes": (end["codegen_classes"], "count"),
        "exec.s": (per_pass([r["exec_s"] for r in reqs]), "s"),
        "exec.self_s": (per_pass([selft[s["id"]] for s in spans
                                  if s["kind"] == "phase" and s["name"] == "exec"]), "s"),
        "exec.jobs": (per_pass([1 for j in jobs if j["phase"] == "exec"]), "count"),
        "exec.stages": (jsum("exec", "stages"), "count"),
        "exec.tasks": (jsum("exec", "tasks"), "count"),
        "exec.sched_wait_s": (jsum("exec", "sched_wait_s"), "s"),
        "exec.task_cpu_s": (jsum("exec", "task_cpu_s"), "s"),
        "exec.empty_task_ratio": (
            sum(j["empty_tasks"] for j in jobs if j["phase"] == "exec") / max(1, ex_tasks), "ratio"),
        "exec.input_mb": (jsum("exec", "input_mb"), "MB"),
        "exec.shuffle_read_mb": (jsum("exec", "shuffle_read_mb"), "MB"),
        "exec.shuffle_write_mb": (jsum("exec", "shuffle_write_mb"), "MB"),
        "exec.spill_mb": (jsum("exec", "spill_mb"), "MB"),
        "exec.peak_exec_mem_mb": (max([j["peak_exec_mem_mb"] for j in jobs
                                       if j["phase"] == "exec"] or [0.0]), "MB"),
        "exec.output_mb": (jsum("exec", "output_mb"), "MB"),
        "exec.task_failures": (per_pass([j["task_failures"] for j in jobs]), "count"),
        "core.cache_pins": (per_pass([r["pins"] for r in reqs]), "count"),
        "core.cache_storage_mb": (per_pass([r["storage_mb"] for r in reqs]), "MB"),
        "jvm.gc_s": (per_pass([r["gc_s"] for r in reqs]), "s"),
        "jvm.jit_s": (per_pass([p["jit_s"] for p in tpass]), "s"),
        "jvm.process_cpu_s": (per_pass([p["process_cpu_s"] for p in tpass]), "s"),
        "trace.pass_s": (benchlib.median([p["wall_s"] for p in tpass]), "s"),
        "trace.untraced_pass_s": (benchlib.median([p["wall_s"] for p in upass]), "s"),
    }
    # twin gap: graph key minus its direct twin, medians over the twin rounds
    twins = [e for e in ev if e["type"] == "twin"]
    gaps = {}
    for g in sorted({t["pair"] for t in twins}):
        rows = [t for t in twins if t["pair"] == g]
        gw = [t["end"] - t["start"] for t in rows if t["key"] == g]
        tw = [t["end"] - t["start"] for t in rows if t["key"] != g]
        twin = next(t["key"] for t in rows if t["key"] != g)
        gaps[f"{g}~{twin}"] = benchlib.median(gw) - benchlib.median(tw)
    m["plans.twin_gap_s"] = (sum(gaps.values()), "s")
    wall = sum(p["wall_s"] for p in tpass)
    phases = sum(r["build_s"] + r["plan_s"] + r["exec_s"] for r in reqs)
    barrier = sum(r["barrier_s"] for r in reqs)
    extra = {
        "twin_gaps_s": gaps,
        "trace_overhead_ratio": m["trace.pass_s"][0] / m["trace.untraced_pass_s"][0],
        "phase_share_of_pass_wall": phases / wall,
        "barrier_share_of_pass_wall": barrier / wall,
        "spans": len(spans),
    }
    return m, extra, spans


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = HERE / "workloads.json"
    if not spec_path.is_file():
        fail("perfbench/workloads.json is missing")
    spec = json.loads(spec_path.read_text())
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload!r}; have {sorted(spec['workloads'])}")
    wl = spec["workloads"][a.workload]
    expected = json.loads((HERE / "expected.json").read_text())
    data = HERE / spec["data"]
    if not data.is_dir():
        fail(f"data directory {data} is missing")

    classes, digest = build()
    t_built = time.time()

    load_before, probe_before = os.getloadavg(), host_probe_s()
    run = BUILD / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(run, ignore_errors=True)
    (run / "tmp").mkdir(parents=True)
    # a fixed amount of work per run, sized from --seconds: both sides of a
    # comparison then time the same requests. The floor keeps at least
    # 3 * TAIL_BEYOND samples, so the tail percentile is p67 or higher and
    # stays apart from the median.
    passes = max(-(-3 * benchlib.TAIL_BEYOND // len(wl["keys"])),
                 round(a.seconds / wl["nominal_pass_s"]))
    if a.trace:
        passes = max(2, passes + passes % 2)  # untraced and traced alternate
    flags = {"data": data, "out": run, "keys": ",".join(wl["keys"]),
             "action": wl["action"], "seed": a.seed, "passes": passes,
             "warm-passes": wl["warm_passes"],
             "setups": spec["setups"], "trace": a.trace}
    if a.trace:
        flags["twins"] = ",".join(f"{g}={t}" for g, t in spec["twins"].items())
        flags["twin-rounds"] = spec["twin_rounds"]
    budget = DEADLINE_S - (time.time() - t_built)
    try:
        run_jvm(classes, {"tmp": run / "tmp", "flags": flags},
                      BUILD / f"jvm-{a.workload}-t{a.trace}.log", budget)
        ev = [json.loads(line) for line in open(run / "events.jsonl")]
    finally:
        load_after, probe_after = os.getloadavg(), host_probe_s()
        keep = [run / "events.jsonl"] if (run / "events.jsonl").exists() else []
        results = BUILD / "results"
        results.mkdir(exist_ok=True)
        for k in keep:
            shutil.copy(k, results / f"{run.name}.events.jsonl")
        shutil.rmtree(run, ignore_errors=True)

    checked = [e for e in ev if e["type"] in ("warm", "warmpass", "req", "twin")]
    attempted, threw, mismatched, problems = check_outputs(checked, expected)
    failed = threw + mismatched
    timed = [e for e in ev if e["type"] == "req"]
    end = next(e for e in ev if e["type"] == "end")

    if a.trace:
        metrics, extra, spans = per_layer(ev)
        (results / f"{run.name}.spans.json").write_text(json.dumps(spans))
    else:
        metrics, extra = end_to_end(ev, timed)
    extra["error_ratio"] = failed / attempted
    extra["pass_host_probe_s"] = benchlib.median(
        [e["host_probe_s"] for e in ev if e["type"] == "pass"])

    provenance = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "keys": len(wl["keys"]), "passes": passes, "warm_passes": wl["warm_passes"],
        "setups": spec["setups"],
        "action": wl["action"], "data": spec["data"],
        "nproc": end["cpus"], "spark_cores": end["cores"], "ram_mb": mem_total_mb(),
        "comparable_only_at": f"nproc={end['cpus']}",
        "git_commit": git_commit(), "source_sha256": digest,
        "loadavg_before": load_before, "loadavg_after": load_after,
        "host_probe_s": [probe_before, probe_after],
        "spark_version": end["spark_version"], "spark_conf": end["conf"],
        "jvm_flags": end["jvm_flags"], "requestbench_args": {k: str(v) for k, v in flags.items()},
        "barrier": "CacheScope.releaseAll + clearCache + blocking unpersist; "
                   "System.gc() only after each set-up and before each pass",
    }
    per_key = {}
    for r in timed:
        k = per_key.setdefault(r["key"], {"n": 0, "wall_s": [], "build_s": [], "plan_s": [], "exec_s": []})
        k["n"] += 1
        k["wall_s"].append(r["end"] - r["start"])
        for ph in ("build_s", "plan_s", "exec_s"):
            k[ph].append(r[ph])
    detail = results / f"{run.name}.json"
    detail.write_text(json.dumps({"provenance": provenance, "extra": extra,
                                  "problems": problems, "per_key": per_key,
                                  "metrics": metrics}, indent=1))

    print("provenance " + json.dumps({k: v for k, v in provenance.items()
                                      if k not in ("spark_conf", "jvm_flags")}))
    print("extra " + json.dumps(extra))
    for p in problems[:20]:
        print("problem " + p)
    print(f"detail {detail.relative_to(ROOT)}")
    for name, (v, unit) in metrics.items():
        print(f"metric {name} = {v:.6g} {unit}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
