#!/usr/bin/env python3
"""Repository benchmark runner.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <dedup-mixed|stream-ingest>
                           --seed <n> --seconds <n> --trace <0|1>

Builds the engine and the benchmark from source with sbt on first use
(cached under .bench_build/, keyed by a hash of every source file), brackets
the run with a Spark-free host control, runs one workload at local[4] in a
fresh JVM and prints, as the last stdout line, one JSON object with the keys
correct, attempted, failed and metrics. Exits non-zero on bad arguments, on
a failed build or run, and when any output check fails.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

WORKLOADS = ["dedup-mixed", "stream-ingest"]
ROOT = Path.cwd()
BENCH = ROOT / "perfbench"
OUT = ROOT / ".bench_build"
RUN_LIMIT_S = 170.0
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


class UsageError(Exception):
    pass


class Parser(argparse.ArgumentParser):
    def error(self, message):
        raise UsageError(message)


def parse(argv):
    p = Parser(prog="perfbench/run.py", add_help=False)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=["0", "1"])
    a = p.parse_args(argv)
    if not 0 <= a.seed < 2 ** 63:
        raise UsageError("--seed must be an integer in 0..2^63-1")
    if not 1 <= a.seconds <= 600:
        raise UsageError("--seconds must be within 1..600")
    return a


def usage(msg):
    sys.stderr.write(
        f"perfbench: {msg}\nusage: python3 perfbench/run.py --workload "
        f"<{'|'.join(WORKLOADS)}> --seed <n> --seconds <n> --trace <0|1>\n")
    return 2


# ------------------------------------------------------------------ build --

def sources():
    roots = [ROOT / "build.sbt", ROOT / "src" / "main", BENCH / "build.sbt",
             BENCH / "project" / "build.properties", BENCH / "src" / "main"]
    files = []
    for r in roots:
        files += [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
    return files


def source_hash():
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()


def build():
    """Compile with sbt unless the cached build matches the sources;
    returns the runtime classpath."""
    stamp, cp_file = OUT / "stamp", OUT / "classpath.txt"
    want = source_hash()
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == want:
        return cp_file.read_text().strip()
    OUT.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.is_file():
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log = OUT / "build.log"
    with open(log, "w") as lf:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=lf, text=True, stdin=subprocess.DEVNULL)
    out_lines = r.stdout.splitlines()
    (OUT / "build.out").write_text(r.stdout)
    cps = [l for l in out_lines if l.startswith("/") and ".jar" in l]
    if r.returncode != 0 or not cps:
        sys.stderr.write("perfbench: build failed; see .bench_build/build.out\n")
        sys.stderr.write("\n".join(out_lines[-20:]) + "\n")
        return None
    cp_file.write_text(cps[-1])
    stamp.write_text(want)
    return cps[-1]


# ----------------------------------------------------------- host control --

def host_control():
    """Spark-free machine check: sha256 MB/s on 1 and 4 threads, memory
    copy GB/s. A drop between the two brackets of a run flags a degraded
    host window rather than a regression."""
    buf = os.urandom(8 << 20)

    def hash_mb(reps):
        for _ in range(reps):
            hashlib.sha256(buf).digest()

    t0 = time.perf_counter()
    hash_mb(4)
    one = 32 / (time.perf_counter() - t0)
    threads = [threading.Thread(target=hash_mb, args=(4,)) for _ in range(4)]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    four = 4 * 32 / (time.perf_counter() - t0)
    big = bytearray(64 << 20)
    t0 = time.perf_counter()
    for _ in range(4):
        bytes(big)
    mem = 4 * 64 / 1024 / (time.perf_counter() - t0)
    return {"sha256_mb_s_1t": round(one, 1), "sha256_mb_s_4t": round(four, 1), "mem_copy_gb_s": round(mem, 2)}


# -------------------------------------------------------------------- run --

def main(argv):
    try:
        a = parse(argv)
    except UsageError as e:
        return usage(str(e))
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        sys.stderr.write("perfbench: run from the root of a checkout of the engine "
                         "(build.sbt and src/main/scala not found)\n")
        return 2
    cp = build()
    if cp is None:
        return 1
    before = host_control()
    work = OUT / "work"
    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", str(work)])
    err_log = OUT / f"{a.workload}-trace{a.trace}.stderr"
    with open(err_log, "w") as ef:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=ef, text=True,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.stderr.write(f"perfbench: run exceeded {RUN_LIMIT_S:.0f} s; killed\n")
            return 1
    lines = out.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if proc.returncode not in (0, 1) or not isinstance(result, dict):
        sys.stdout.write("\n".join(lines) + "\n")
        sys.stderr.write(f"perfbench: run failed (exit {proc.returncode}); stderr tail:\n")
        sys.stderr.write("".join(err_log.read_text().splitlines(True)[-30:]))
        return 1
    after = host_control()
    degraded = any(after[k] < 0.8 * before[k] for k in before)
    for l in lines[:-1]:
        print(l)
    print("host " + json.dumps({"before": before, "after": after, "degraded_window": degraded}))
    print(json.dumps(result))
    return 0 if result.get("correct") and proc.returncode == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
