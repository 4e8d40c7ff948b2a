"""Cold end-to-end benchmark of the program's user paths.

    python3 perfbench/run.py --workload ms_bda --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. It builds the program with sbt (offline,
outside the timed region; cached by a hash of the sources), builds the
seeded input (cached per seed), then runs whole rounds until --seconds
have passed: each round is one fresh JVM running the workload, timed from
outside, followed by independent checks of what it wrote. The last line
of standard output is one JSON object: {correct, attempted, failed,
metrics}. With --trace 1 the JVM also carries the span listeners from
tracer/ and the metrics are the per-layer ones.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

MB = 1 << 20
WORK = f"{REPO}/.perfbench"
# SPARK_DRIVER_MEM for build.sbt's forked-run flags (-Xmx). Fixed, so peak
# RSS measures the program rather than G1 growing a heap sized to the
# machine (under a 7 GB cap it spread by a sixth between runs).
HEAP = "3g"

BDA = {"decorrelation": 0.99, "fov": 0.056, "time_cap": 90000.0, "min_nchan": 1}
TIMECHANNEL = {"time_bin": 120000.0, "chan_bin": 16}

# name -> (input kind, main class, argv builder, output dir, checker)
WORKLOADS = {
    "ms_bda": ("ms", "graft.cli.XovaApp",
               lambda i, o: ["bda", i, "-o", f"{o}/out.ms", "-fov", "0.056",
                             "-t", "90000", "--force"],
               lambda o: f"{o}/out.ms",
               lambda i, d: checks.check_ms(i, d, "bda", BDA)),
    # Runnable by hand; not in BENCHMARK.json (see README, "Workloads").
    "ms_timechannel": ("ms", "graft.cli.XovaApp",
                       lambda i, o: ["timechannel", i, "-o", f"{o}/out.ms",
                                     "-t", "120000", "-c", "16", "--force"],
                       lambda o: f"{o}/out.ms",
                       lambda i, d: checks.check_ms(i, d, "timechannel", TIMECHANNEL)),
    "curation_sf1": ("docs", "graft.Verify",
                     lambda i, o: [i, o, "pl_p3_full_curation"],
                     lambda o: f"{o}/pl_p3_full_curation",
                     checks.check_curation),
    "stream_sessions": ("events", "graft.Verify",
                        lambda i, o: [i, o, "st3_stream_sessions"],
                        lambda o: f"{o}/st3_stream_sessions",
                        checks.check_sessions),
}

# metric names and units come from BENCHMARK.json at the checkout root
with open(f"{REPO}/BENCHMARK.json") as _f:
    _SPEC = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}
TRACE_FLAGS = ["-Dspark.extraListeners=perfbench.JobTracer",
               "-Dspark.sql.queryExecutionListeners=perfbench.QueryTracer",
               "-Dspark.sql.streaming.streamingQueryListeners=perfbench.StreamTracer",
               "-Dspark.callstack.depth=64"]


CHILD = None  # the workload JVM of the round in progress


def stop(signum, _frame):
    """Ends the workload JVM with this process, so no run outlives it."""
    if CHILD is not None and CHILD.returncode is None:
        os.killpg(CHILD.pid, signal.SIGKILL)
        os.waitpid(CHILD.pid, 0)
    sys.exit(128 + signum)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build():
    """Compile the program (sbt, offline) and the tracer; cached by a hash
    of every input of the build."""
    if not (os.path.isfile(f"{REPO}/build.sbt") and os.path.isdir(f"{REPO}/src/main")):
        raise SystemExit(f"perfbench: no program source (build.sbt, src/main) under {REPO}")
    h = hashlib.sha256()
    files = [f"{REPO}/build.sbt", f"{REPO}/project/build.properties"]
    for base in (f"{REPO}/src/main", f"{HERE}/tracer"):
        for d, _, fs in sorted(os.walk(base)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for p in files:
        if os.path.isfile(p):
            h.update(p[len(REPO):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    h.update(HEAP.encode())
    key = h.hexdigest()[:16]
    rec_path = f"{WORK}/build/{key}.json"
    if os.path.exists(rec_path):
        with open(rec_path) as f:
            return json.load(f)
    os.makedirs(f"{WORK}/build", exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=HEAP,
               SBT_OPTS=os.environ.get("SBT_OPTS") or
               "-Dsbt.override.build.repos=true -Dsbt.repository.config="
               f"{os.path.expanduser('~')}/.sbt/repositories -Dsbt.offline=true -Xmx4g")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-J-XX:-UsePerfData",
                        "-Dsbt.server.autostart=false", "compile",
                        "export Runtime/fullClasspath", "show javaOptions"],
                       cwd=REPO, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("perfbench: sbt build failed")
    lines = p.stdout.splitlines()
    cp = [l for l in lines if "target/scala-" in l and not l.startswith("[")][-1].strip()
    opts = []
    for l in lines:
        m = re.match(r"\[info\] \* (.*)$", l)
        if m:
            opts.append(m.group(1).strip())
    tracer = f"{WORK}/build/tracer-{key}"
    subprocess.run(["sh", f"{HERE}/tracer/build.sh", tracer, cp], check=True,
                   stdin=subprocess.DEVNULL)
    rec = {"classpath": cp, "java_options": opts, "tracer": tracer,
           "build_s": round(time.time() - t0, 1), "heap": HEAP}
    with open(rec_path, "w") as f:
        json.dump(rec, f)
    log(f"built in {rec['build_s']} s")
    return rec


def run_record(b, cores):
    """Environment of this run, so a contended run shows in its own record."""
    calib = subprocess.run(["java", "-XX:-UsePerfData", "-cp", b["classpath"], "graft.CalibProbe",
                            str(cores)], capture_output=True, text=True, stdin=subprocess.DEVNULL)
    m = re.search(r"calib ([0-9.]+)", calib.stdout)
    return {"load1": os.getloadavg()[0], "calib_s": float(m.group(1)) if m else None,
            "cores": cores, "heap": b["heap"], "jvm_flags": b["java_options"]}


def dir_mb(path):
    return gen.dir_bytes(path) / MB if os.path.isdir(path) else 0.0


def first_job_ms(path):
    try:
        with open(path) as f:
            for line in f:
                if "Got job 0 " in line:
                    return int(line.split()[0])
    except FileNotFoundError:
        pass
    return None


def one_round(b, name, inp, manifest, cores, trace):
    kind, main, argv, out_of, check = WORKLOADS[name]
    rd = f"{WORK}/runs/{name}"
    shutil.rmtree(rd, ignore_errors=True)
    os.makedirs(f"{rd}/tmp")
    cp = b["classpath"] + (":" + b["tracer"] if trace else "")
    cmd = (["java"] + b["java_options"] +
           # keep every file the JVM writes inside the checkout
           ["-XX:-UsePerfData", f"-Djava.io.tmpdir={rd}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            f"-Dperfbench.joblog={rd}/jobs.log"])
    launch_ms = int(time.time() * 1000)
    if trace:
        cmd += TRACE_FLAGS + [f"-Dperfbench.trace.out={rd}/trace.jsonl",
                              f"-Dperfbench.run.id={name}-{launch_ms}",
                              f"-Dperfbench.launch.ms={launch_ms}"]
    cmd += ["-cp", cp, main] + argv(inp, rd)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), SPARK_LOCAL_DIRS=f"{rd}/tmp")
    global CHILD
    t0 = time.time()
    with open(f"{rd}/stdout.log", "w") as out:
        proc = CHILD = subprocess.Popen(cmd, cwd=rd, env=env, stdin=subprocess.DEVNULL,
                                        stdout=out, stderr=subprocess.STDOUT,
                                        start_new_session=True)
        _, status, ru = os.wait4(proc.pid, 0)
    wall = time.time() - t0
    proc.returncode = os.waitstatus_to_exitcode(status)
    first = first_job_ms(f"{rd}/jobs.log")
    r = {"wall_s": wall, "setup_s": (first - launch_ms) / 1000.0 if first else None,
         "cpu_s": ru.ru_utime + ru.ru_stime, "peak_rss_mb": ru.ru_maxrss / 1024.0,
         "output_mb": dir_mb(out_of(rd))}
    failures = []
    if proc.returncode != 0:
        failures.append(f"exit code {proc.returncode}")
    with open(f"{rd}/stdout.log", errors="replace") as f:
        failures += [l.strip() for l in f if l.startswith("[verify]") and " failed:" in l]
    if first is None:
        failures.append("no Spark job was submitted")
    wrong = []
    if not failures:
        try:
            wrong = [f"{c}: {detail}" for c, ok, detail in check(inp, out_of(rd)) if not ok]
        except Exception as e:  # a malformed output fails its checks
            wrong = [f"check error: {e!r}"]
    if trace and os.path.exists(f"{rd}/trace.jsonl"):
        spans = layers.load(f"{rd}/trace.jsonl")
        r["layers"], r["module_split_s"] = layers.metrics(
            spans, launch_ms, wall, r["setup_s"] or 0.0, manifest)
    r["failures"], r["wrong"] = failures + wrong, wrong
    return r


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop)
    b = build()
    cores = os.cpu_count() or 4
    kind = WORKLOADS[a.workload][0]
    inp, manifest = gen.ensure(kind, a.seed, REPO)
    record = run_record(b, cores)
    record.update(workload=a.workload, seed=a.seed, trace=a.trace, input=manifest)
    rounds = []
    start = time.time()
    while not rounds or time.time() - start < a.seconds:
        r = one_round(b, a.workload, inp, manifest, cores, a.trace == 1)
        log(f"{a.workload} seed {a.seed} round {len(rounds) + 1}: wall {r['wall_s']:.2f} s"
            + (f" FAILED {r['failures']}" if r["failures"] else ""))
        rounds.append(r)
    ok = [r for r in rounds if not r["failures"]]
    record["rounds"] = [{k: v for k, v in r.items() if k != "layers"} for r in rounds]
    os.makedirs(f"{WORK}/records", exist_ok=True)
    with open(f"{WORK}/records/{a.workload}.jsonl", "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({"record": record}))
    # medians over the rounds that did not fail (over all rounds if none did)
    measured = ok or rounds
    metrics = {}
    if a.trace:
        for k, unit in PER_LAYER.items():
            vals = [r["layers"][k] for r in measured if "layers" in r] or [0.0]
            metrics[k] = {"value": statistics.median(vals), "unit": unit}
    else:
        for k, unit in END_TO_END.items():
            metrics[k] = {"value": statistics.median(r[k] or 0.0 for r in measured), "unit": unit}
    print(json.dumps({"correct": not any(r["wrong"] for r in rounds),
                      "attempted": len(rounds), "failed": len(rounds) - len(ok),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
