#!/usr/bin/env python3
"""The deviation-engine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source on first use (sbt, offline),
then runs the workload in one JVM on local[<cores>] with a driver heap sized
from MemTotal. Prints a table of every metric with its unit and sample
counts, and as the last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics of BENCHMARK.json, --trace 1 the per-layer ones.
Everything it writes stays under perfbench/.work in the checkout.
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

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 880

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_digest():
    """Hash of every input of the build, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    return env


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout kills the whole group and
    waits for it. Returns (exit code, stdout)."""
    p = subprocess.Popen(cmd, start_new_session=True, stdout=subprocess.PIPE, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out.decode(errors="replace")
    except subprocess.TimeoutExpired:
        return None, ""
    finally:
        # also reached when this script is interrupted or terminated
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()


def build():
    """Returns the runtime classpath, building first when the sources changed."""
    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala")):
        if not os.path.exists(need):
            raise SystemExit(f"perfbench: {need} is missing; run from a checkout of the repository")
    stamp = os.path.join(WORK, "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s["digest"] == digest:
            return s["classpath"]
    log("perfbench: building (sbt compile)")
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL)
    lines = [ln for ln in out.splitlines() if ln and not ln.startswith("[")]
    if code != 0 or not lines:
        log(out[-4000:])
        raise SystemExit("perfbench: build failed")
    classpath = lines[-1].strip()
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath


def heap_size():
    """Half of MemTotal in whole GiB, clamped to 2..8 — the Tier-1 rule."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def run_jvm(classpath, args, raw_path, run_dir):
    # -Xms is a floor well above the ~300 MB an op leaves live: the forced
    # collection after each op cannot shrink the heap below it, so the next op
    # does not pay to grow it back, and the JVM does not hold half the host's
    # memory resident as a pinned maximum would
    cmd = (["java", f"-Xmx{heap_size()}", "-Xms2g", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={run_dir}/tmp"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--out", raw_path, "--work", run_dir, "--cores", str(os.cpu_count() or 1)])
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    # set-up time counts from here: the JVM's own start-up is part of it
    cmd += ["--start", repr(time.time())]
    code, out = run_bounded(cmd, RUN_TIMEOUT_S, stdin=subprocess.DEVNULL, cwd=run_dir)
    if code != 0:
        log(out[-4000:])
        raise SystemExit(f"perfbench: benchmark JVM exited with {code}")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def report(raw, trace, bench):
    e2e = stats.end_to_end(raw)
    print(f"workload={raw['workload']} seed={raw['seed']} cores={raw['cores']} "
          f"sizes={json.dumps(raw['sizes'])} trace={trace}")
    print(f"  setup_s        {e2e['setup_s']:.4f} s   (JVM start to first timed op; "
          f"{len(raw['warm_up_s'])} untimed warm-up ops: "
          + (" ".join(f"{s:.2f}" for s in raw["warm_up_s"]) or "-") + " s)")
    print(f"  op_s           {e2e['op_s']:.4f} s   (median of {e2e['ops']} untraced ops)")
    t = e2e["op_tail"]
    if t:
        print(f"  op_tail_s      {t[1]:.4f} s   (p{t[0]:g}, {t[2]} of {t[3]} ops beyond)")
    else:
        print(f"  op_tail_s      n/a         (needs >= {2 * stats.MIN_BEYOND} ops, had {e2e['ops']})")
    print(f"  items_per_s    {e2e['items_per_s']:.4f} 1/s")
    print(f"  heap_peak_mb   {e2e['heap_peak_mb']:.1f} MB")
    print(f"  failed_ratio   {e2e['failed_ratio']:.4f}     ({e2e['failed']} of {e2e['attempted']} ops)")
    if raw["workload"] == "sync_edits":
        print(f"  store_bytes_per_live_byte {e2e['store_bytes_per_live_byte']:.4f}")
    for o in raw["ops"]:
        if o.get("error"):
            print(f"  op {o['op']} FAILED: {o['error']}")
    if raw.get("final_error"):
        print(f"  end-of-run check FAILED: {raw['final_error']}")
    if not trace:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    else:
        layer = stats.per_layer(raw)
        print(f"  per-layer (medians over {sum(bool(o['traced']) for o in raw['ops'])} traced ops):")
        for k in sorted(layer):
            print(f"    {k:40s} {layer[k]:.6g}")
        metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]}
                   for m in bench["per_layer"]}
    return {"correct": e2e["failed"] == 0, "attempted": e2e["attempted"],
            "failed": e2e["failed"], "metrics": metrics}


def main():
    # turn SIGTERM into an exception so run_bounded's cleanup runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    bench = spec()
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        raise SystemExit(f"perfbench: unknown workload {args.workload}")
    classpath = build()
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}-{int(time.time())}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    raw_path = os.path.join(run_dir, "raw.json")
    try:
        run_jvm(classpath, args, raw_path, run_dir)
        with open(raw_path) as f:
            raw = json.load(f)
        shutil.copy(raw_path, os.path.join(WORK, f"last-{args.workload}-trace{args.trace}.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    result = report(raw, args.trace == 1, bench)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
