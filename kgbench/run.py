#!/usr/bin/env python3
"""Benchmark entry point for the KG pipeline engine.

    python3 kgbench/run.py --workload <batch_lsh|stream_cdc> --seed <n> \
        --seconds <s> --trace <0|1>
    python3 kgbench/run.py --smoke

Run from the repository root. The first run builds the engine and the
harness from source with sbt into .bench_build/ (offline, from the local
dependency cache). Each run then starts one JVM (kgbench.Bench), which
sets up the workload, times it and checks its outputs; this script turns
the JVM's run record into the metric line printed last on stdout. Run
records, spans and logs stay in .bench_build/runs/.

--smoke runs every workload traced (so untraced and traced operations
both run) at tiny sizes in one JVM and checks that each metric line is
complete; it prints one summary line and exits non-zero on any problem.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import report  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
ENGINE_SOURCES = [os.path.join(ROOT, "src", "main")]
HARNESS_SOURCES = [os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                   os.path.join(HERE, "project", "build.properties")]
RUN_LIMIT_S = 170  # a run must end within 180 s after the build
BUILD_LIMIT_S = 850
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code):
    print(f"kgbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    """$SPARK_HOME, else the install that `spark-submit` on PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("set SPARK_HOME or put spark-submit on PATH", 2)
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def source_stamp():
    h = hashlib.sha256()
    for top in ENGINE_SOURCES + HARNESS_SOURCES:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def has_vector_module():
    out = subprocess.run(["java", "--list-modules"], capture_output=True, text=True)
    return "jdk.incubator.vector" in out.stdout


def build(vector):
    """Compiles engine + harness unless the sources match the last build."""
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" +
        os.path.expanduser("~/.sbt/repositories"), "-Dsbt.offline=true",
        "-Dsbt.server.autostart=false", "-Xmx2g"])
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true"]
    if vector:
        cmd += ["-J--add-modules", "-Jjdk.incubator.vector"]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(cmd + ["compile"], cwd=HERE, env=env, stdout=out,
                           stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S)
    if p.returncode != 0:
        fail(f"build failed (exit {p.returncode}), see {log}", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def driver_memory():
    """Tier-1's SPARK_DRIVER_MEM rule: half of RAM, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def cpu_times():
    """Whole-box jiffies from /proc/stat: (user+nice, system, steal, total)."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return (v[0] + v[1], v[2], v[7] if len(v) > 7 else 0, sum(v[:8]))
    except (OSError, ValueError, IndexError):
        return None


def cpu_shares(before, after):
    if not before or not after:
        return {}
    d = [a - b for a, b in zip(after, before)]
    busy = d[0] + d[1]
    return {"sys_share_of_busy": d[1] / busy if busy > 0 else 0.0,
            "steal_share": d[2] / d[3] if d[3] > 0 else 0.0}


def run_jvm(workload, seed, seconds, trace, smoke, vector, limit_s):
    """Runs kgbench.Bench in a fresh work dir; returns {workload: record}."""
    work = os.path.join(BUILD, "work")
    records = os.path.join(work, "records")
    shutil.rmtree(work, ignore_errors=True)  # also clears the Spark local dir
    os.makedirs(os.path.join(work, "tmp"))
    mem = driver_memory()
    cmd = ["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    if vector:
        cmd += ["--add-modules=jdk.incubator.vector"]
    cmd += ["-Xms2g", f"-Xmx{mem}", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-cp", f"{CLASSES}:{spark_home()}/jars/*", "kgbench.Bench",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work, "--records", records]
    if smoke:
        cmd.append("--smoke")
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    log = os.path.join(BUILD, "runs", f"{workload}-seed{seed}-trace{int(trace)}.log")
    before = cpu_times()
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded {limit_s:.0f} s, see {log}", 4)
    shares = cpu_shares(before, cpu_times())
    if code != 0:
        fail(f"JVM exited {code}, see {log}", 5)
    out = {}
    for name in os.listdir(records):
        with open(os.path.join(records, name)) as f:
            rec = json.load(f)
        rec["context"].update(shares, driver_memory=mem, nproc=os.cpu_count(), jvm_cmd=cmd)
        out[rec["workload"]] = rec
    shutil.rmtree(work, ignore_errors=True)
    return out


def context_line(rec):
    c = rec["context"]
    walls = [o["wall_s"] for o in rec["ops"] if not o["traced"]]
    tail = report.tail_percentile(walls)
    keep = {k: c.get(k) for k in ("nproc", "driver_memory", "simd_dot_kernel",
                                  "sys_share_of_busy", "steal_share", "peak_rss_mb",
                                  "spark_version")}
    keep["ops"] = len(walls)
    keep["latency_tail"] = ({"percentile": tail[0], "value_s": tail[1], "samples": tail[2]}
                            if tail else None)
    keep["checks"] = {ch["name"]: ch["ok"] for ch in rec["checks"]}
    return "kgbench context " + json.dumps(keep, separators=(",", ":"))


def save(rec, trace):
    path = os.path.join(BUILD, "runs",
                        f"{rec['workload']}-seed{rec['seed']}-trace{int(trace)}.json")
    with open(path, "w") as f:
        json.dump(rec, f)


def smoke(vector):
    t0 = time.time()
    recs = run_jvm("all", 1, 1, True, True, vector, RUN_LIMIT_S)
    problems = []
    for w in ("batch_lsh", "stream_cdc"):
        rec = recs.get(w)
        if rec is None:
            problems.append(f"{w}: no record")
            continue
        save(rec, True)
        for trace, names in ((False, report.END_TO_END), (True, report.PER_LAYER)):
            line = json.loads(report.result_line(rec, trace))
            if set(line["metrics"]) != {n for n, _, _ in names}:
                problems.append(f"{w}: incomplete metrics (trace {int(trace)})")
            if not line["correct"]:
                bad = [c for c in rec["checks"] if not c["ok"]]
                problems.append(f"{w}: failed checks {bad}")
        if not any(o["traced"] for o in rec["ops"]):
            problems.append(f"{w}: no traced operation")
    print(json.dumps({"smoke": "ok" if not problems else "failed", "problems": problems,
                      "seconds": round(time.time() - t0, 1)}))
    return 0 if not problems else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["batch_lsh", "stream_cdc"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found; run from a repository checkout", 2)
    vector = has_vector_module()
    build(vector)
    if a.smoke:
        sys.exit(smoke(vector))
    t0 = time.time()
    rec = run_jvm(a.workload, a.seed, a.seconds, bool(a.trace), False, vector,
                  RUN_LIMIT_S)[a.workload]
    rec["context"]["run_wall_s"] = time.time() - t0
    save(rec, bool(a.trace))
    print(context_line(rec))
    print(report.result_line(rec, bool(a.trace)))


if __name__ == "__main__":
    main()
