#!/usr/bin/env python3
"""walrusspark benchmark launcher.

Builds the library (src/main/scala) and the benchmark program
(walrusbench/src) with the Scala compiler that ships in Spark's jar
directory, then runs one workload in a fresh JVM:

    python3 walrusbench/run.py --workload log_tail --seed 7 --seconds 20 --trace 0

The last line of standard output is the JSON result. With ``--steady N``
the launcher instead repeats the workload N times with seeds
``seed .. seed+N-1`` and prints the median and quartiles of every
end-to-end metric against the bounds in BENCHMARK.json.

Run it from the root of a checkout; everything it writes stays under
``.bench_build/`` there.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import selectors
import signal
import statistics
import subprocess
import sys
import time
import zipfile

WORKLOADS = ("log_bulk", "log_tail", "llm_pipeline")
BUILD_DIR = os.path.join(".bench_build", "walrusbench")
CDS_ARCHIVE = os.path.join(BUILD_DIR, "classes.jsa")
RUN_TIMEOUT_S = 170
MIN_FREE_GB = 4
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"walrusbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not jars or not os.path.isdir(jars):
        fail("no Spark installation found (set SPARK_HOME)")
    return jars


def sources(root, suffixes):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(suffixes)]
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(jars):
    """Compile library + benchmark when their sources changed; returns the
    runtime classpath."""
    lib_src = sources(os.path.join("src", "main", "scala"), (".scala", ".java"))
    res_dir = os.path.join("src", "main", "resources")
    bench_src = sources(os.path.join("walrusbench", "src"), (".scala",))
    if not lib_src or not bench_src:
        fail("run from the root of a walrusspark checkout (library sources missing)")
    res = sources(res_dir, ("",)) if os.path.isdir(res_dir) else []
    lib_out = os.path.join(BUILD_DIR, "lib")
    bench_out = os.path.join(BUILD_DIR, "bench")
    # jars, not class directories: the JVM's class-data sharing archive
    # only covers classes loaded from jars
    cp = [bench_out + ".jar", lib_out + ".jar", os.path.join(jars, "*")]
    scalac = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
              "scala.tools.nsc.Main", "-nowarn", "-usejavacp"]
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(os.path.join(BUILD_DIR, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        lib_stamp = digest(lib_src + res)
        # the benchmark is rebuilt whenever the library is
        for out, srcs, extra, stamp in (
                (lib_out, lib_src, [], lib_stamp),
                (bench_out, bench_src, ["-classpath", lib_out],
                 lib_stamp + digest(bench_src))):
            stamp_path = out + ".stamp"
            if os.path.exists(stamp_path) and open(stamp_path).read() == stamp:
                continue
            t0 = time.time()
            shutil.rmtree(out, ignore_errors=True)
            os.makedirs(out)
            r = subprocess.run(scalac + extra + ["-d", out] + srcs,
                               stdout=sys.stderr, stderr=sys.stderr)
            if r.returncode != 0:
                fail("compilation failed", 3)
            if out == lib_out:
                for p in res:
                    dst = os.path.join(lib_out, os.path.relpath(p, res_dir))
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    shutil.copyfile(p, dst)
            with zipfile.ZipFile(out + ".jar", "w", zipfile.ZIP_STORED) as z:
                for p in sources(out, ("",)):
                    z.write(p, os.path.relpath(p, out))
            if os.path.exists(CDS_ARCHIVE):
                os.remove(CDS_ARCHIVE)
            with open(stamp_path, "w") as f:
                f.write(stamp)
            print(f"walrusbench: compiled {out} in {time.time() - t0:.1f} s",
                  file=sys.stderr)
    return cp


def run_once(cp, workload, seed, seconds, trace, echo=sys.stdout):
    """One workload run in a fresh JVM; returns the parsed result or None.
    Its lines other than the result go to ``echo``."""
    free_gb = shutil.disk_usage(".").free / 2**30
    if free_gb < MIN_FREE_GB:
        fail(f"only {free_gb:.1f} GiB free; the benchmark needs {MIN_FREE_GB}", 4)
    work = os.path.abspath(os.path.join(BUILD_DIR, f"run-{os.getpid()}-{seed}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # The first run after a build dumps the classes it loaded into a
    # class-data sharing archive at exit; later runs map it, which cuts
    # JVM and Spark start-up by several seconds.
    cds = (f"-XX:SharedArchiveFile={CDS_ARCHIVE}" if os.path.exists(CDS_ARCHIVE)
           else f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    # -XX:TieredStopAtLevel=1 (C1 only): with C2, warm pipeline passes of
    # one seed settle at 3.1 s in one JVM and 4.6 s in the next, because
    # C2's compilations differ from JVM to JVM; C1-only runs agree within
    # a few percent, at ~1.5x the warm C2 pass time.
    cmd = (["java", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1",
            "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", cds,
            "-Xlog:disable", "-Xlog:all=warning:stderr", f"-Djava.io.tmpdir={work}/tmp"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(cp), "walrusbench.Main",
              "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace),
              "--work-dir", work])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    last = None
    deadline = time.time() + RUN_TIMEOUT_S

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    old = signal.signal(signal.SIGTERM, lambda *a: (kill(), sys.exit(1)))
    try:
        sel = selectors.DefaultSelector()
        sel.register(proc.stdout, selectors.EVENT_READ)
        while True:
            if time.time() > deadline:
                kill()
                print("walrusbench: run timed out", file=sys.stderr)
                break
            if not sel.select(timeout=1.0):
                continue
            line = proc.stdout.readline()
            if not line:
                break
            line = line.rstrip("\n")
            if line.startswith("{"):
                last = line
            else:
                print(line, file=echo, flush=True)
        proc.wait()
    finally:
        kill()
        signal.signal(signal.SIGTERM, old)
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or last is None:
        return None
    return json.loads(last)


def steady(cp, args):
    with open("BENCHMARK.json") as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    values = {}
    for i in range(args.steady):
        res = run_once(cp, args.workload, args.seed + i, args.seconds, 0, echo=sys.stderr)
        if res is None or not res["correct"]:
            fail(f"run {i} (seed {args.seed + i}) failed: {res}", 1)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"run {i} seed {args.seed + i}: " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    print(f"{'metric':<18}{'q1':>12}{'median':>12}{'q3':>12}{'spread':>9}"
          f"{'bound':>8}  ok")
    ok = True
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med
        bound = spec[k]["bound"]
        good = k == "setup_s" or spread <= bound / 3
        ok &= good
        print(f"{k:<18}{q1:>12.4f}{med:>12.4f}{q3:>12.4f}{spread:>9.3f}"
              f"{bound:>8.2f}  {'yes' if good else 'NO'}")
    print(json.dumps({"workload": args.workload, "runs": args.steady,
                      "values": values, "steady": ok}))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0,
                    help="repeat the untraced run N times and report spreads")
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    cp = build(spark_jars())
    if args.steady:
        steady(cp, args)
        return
    res = run_once(cp, args.workload, args.seed, args.seconds, args.trace)
    if res is None:
        fail("run failed", 1)
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
