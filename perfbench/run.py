#!/usr/bin/env python3
"""Build and run the Telegram-pipeline benchmark.

    python3 perfbench/run.py --workload telegram-live --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py                # every workload, untraced then traced

Run from the repository root. The first run compiles the program's
sources (src/main/scala) together with the benchmark's (perfbench/src)
with sbt, offline, and caches the classpath under .bench_build/perfbench;
later runs start the JVM directly. One run prints its workload's metrics
and, as its last line, one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
A run whose outputs disagree with the oracle exits 1 and reports no
metrics.
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
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["telegram-live", "message-corpus"]
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    out = [os.path.join(HERE, "run.py"), os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main", "scala")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            out += [os.path.join(d, f) for f in sorted(files)]
    return out


def stamp():
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile if any source changed; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources (src/main/scala/graft) not found; run from a full checkout")
    os.makedirs(STATE, exist_ok=True)
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp_file = os.path.join(STATE, "stamp")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx3g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building (sbt compile)", file=sys.stderr)
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    lines = [l for l in p.stdout.splitlines()
             if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build printed no classpath")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(want)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp


def run_one(cp, workload, seed, seconds, trace):
    """One JVM run; returns (exit code, stdout lines)."""
    work = os.path.join(STATE, "runs", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           # compiler threads that live as long as the JVM, so Main can
           # read the JIT's CPU time apart from the program's
           + ["-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-Djava.awt.headless=true", "-Dspark.ui.enabled=false",
              "-cp", cp, "graftbench.Main", "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--work", work])
    try:
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                           timeout=RUN_TIMEOUT_S)
        code, out = p.returncode, p.stdout
    except subprocess.TimeoutExpired:
        code, out = 124, ""
        print(f"perfbench: {workload} timed out after {RUN_TIMEOUT_S} s", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return code, out.splitlines()


def result_of(lines):
    if not lines:
        return None
    try:
        r = json.loads(lines[-1])
    except ValueError:
        return None
    return r if isinstance(r, dict) and "metrics" in r else None


def single(args, cp):
    code, lines = run_one(cp, args.workload, args.seed, args.seconds, args.trace)
    r = result_of(lines)
    for l in lines[:-1] if r else lines:
        print(l)
    if code != 0 or r is None or not r["correct"]:
        print("perfbench: run failed or outputs disagree with the oracle", file=sys.stderr)
        sys.exit(code or 1)
    print(json.dumps(r))


def everything(args, cp):
    """Every workload untraced, then traced on the same seed."""
    bad = False
    for w in WORKLOADS:
        res = {}
        for trace in (0, 1):
            code, lines = run_one(cp, w, args.seed, args.seconds, trace)
            r = result_of(lines)
            if code != 0 or r is None or not r["correct"]:
                bad = True
                print("\n".join(lines))
                print(f"{w} trace={trace}: FAILED (exit {code})")
                break
            res[trace] = (lines, r)
        if len(res) < 2:
            continue
        lines, r = res[0]
        print(f"== {w} (seed {args.seed}, {args.seconds} s)")
        for l in lines[1:-1]:
            print(l)
        for k, m in r["metrics"].items():
            print(f"  {k:<22} {m['value']:>14.4f} {m['unit']}")
        layer = res[1][1]["metrics"]
        for k in ("write_cpu_ms", "read_cpu_ms"):
            traced = layer[f"trace.{k}"]["value"]
            plain = r["metrics"][k]["value"]
            print(f"  tracing overhead on {k}: {100 * (traced / plain - 1):+.1f} % "
                  f"({traced:.2f} ms traced vs {plain:.2f} ms)")
        print("  per-layer (traced run):")
        for k, m in layer.items():
            if m["value"]:
                print(f"    {k:<28} {m['value']:>16.3f} {m['unit']}")
    sys.exit(1 if bad else 0)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # subprocess.run kills and reaps its child when the wait is
    # interrupted, so a terminated benchmark leaves no JVM or sbt behind
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cp = build()
    if args.workload:
        single(args, cp)
    else:
        everything(args, cp)


if __name__ == "__main__":
    main()
