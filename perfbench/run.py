#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the benchmark from source,
then runs one workload in one JVM and relays its result.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0

Run it from the repository root. Workloads: query_mix, cdc_live (see
perfbench/WORKLOADS.md). `--trace 1` reports per-layer
metrics and writes spans and a self-time roll-up next to the report.
The last stdout line is one JSON object: correct, attempted, failed,
metrics. Other settings:

  --inject NAME   corrupt the stored expected result of one check (a query
                  name, or table/A1/A2/A3 on cdc_live) to show it is caught
  --record PATH   write the expected-results file for a query workload
  --survey PATH   time one first and one warm pass over every KQL and
                  extension query and write the table the pinned query
                  mix is chosen from (takes several minutes)

The JVM gets the same flags build.sbt gives the engine's forked JVMs
(`javaOptions`: module opens, system properties, code cache), read from
build.sbt, except the heap: a fixed 4 GB heap (HEAP below) instead of the
-Xmx build.sbt takes from SPARK_DRIVER_MEM.

Environment: SPARK_HOME supplies the Spark and Scala jars (default: the
`unmanagedBase` that build.sbt compiles against), SPARK_GRAFT_SF_DIR the
test data (default: the sf0.1 directory graft.Bench measures),
CARGO_TARGET_DIR the build directory (default .bench_build).
"""
import argparse
import hashlib
import json
import os
import re
import signal
import subprocess
import sys
import time

JVM_TIMEOUT_S = 170
# A fixed heap and young generation keep the peak resident set a property
# of the program's live data, not of how far G1 chose to grow the heap.
HEAP = ["-Xms4g", "-Xmx4g", "-Xmn1g"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def repo_default(root, path, pattern, what):
    """A default the repository already declares, read from its source."""
    with open(os.path.join(root, path)) as f:
        m = re.search(pattern, f.read())
    if not m:
        die(f"cannot find the {what} in {path}; set it in the environment")
    return m.group(1)


def build_jvm_options(root):
    """The literal flags of build.sbt's `javaOptions` (the module opens of
    `jdk17AddOpens` and the quoted options after them), minus the heap
    size, which HEAP sets."""
    with open(os.path.join(root, "build.sbt")) as f:
        text = re.sub(r"//[^\n]*", "", f.read())
    opens = re.search(r"val jdk17AddOpens = Seq\((.*?)\)\.flatMap", text, re.S)
    block = re.search(r"javaOptions \+\+= jdk17AddOpens \+\+ Seq\((.*?)\n\)", text, re.S)
    if not opens or not block:
        die("cannot find javaOptions in build.sbt")
    flags = [x for m in re.findall(r'"([^"]+)"', opens.group(1))
             for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
    flags += [x for x in re.findall(r'(?<![\w$])"(-[^"$]+)"', block.group(1))
              if not x.startswith(("-Xmx", "-Xms"))]
    if "-Dfile.encoding=UTF-8" not in flags:
        die("build.sbt's javaOptions no longer read as expected")
    return flags


def sources(root):
    out = []
    for base in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, base)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root, jars, build_dir):
    """Compile engine + benchmark with scalac; skip when sources are unchanged."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.sha256")
    if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    subprocess.run(["rm", "-rf", tmp, classes], check=True)
    os.makedirs(tmp)
    t0 = time.time()
    rc = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs,
        stdout=sys.stderr).returncode
    if rc != 0:
        die("compilation failed")
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: compiled {len(srcs)} files in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


class PagingProbe:
    """Page-stride scan of a buffer left idle while the JVM runs: the cold
    rescan over the warm scan is ~1 on a healthy host and climbs when the
    host pages idle guest memory out."""

    def __init__(self, mb=64):
        self.buf = bytearray(mb * 1024 * 1024)
        for i in range(0, len(self.buf), 4096):
            self.buf[i] = 1
        self.warm = min(self.scan() for _ in range(3))

    def scan(self):
        t0 = time.perf_counter()
        s = 0
        for i in range(0, len(self.buf), 4096):
            s += self.buf[i]
        return time.perf_counter() - t0

    def ratio(self):
        return self.scan() / max(self.warm, 1e-9)


def cpu_times():
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["query_mix", "cdc_live"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--inject")
    ap.add_argument("--record")
    ap.add_argument("--survey")
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src/main/scala")):
        die("run from the repository root: src/main/scala not found")
    here = os.path.dirname(os.path.abspath(__file__))
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        jars = repo_default(root, "build.sbt", r'unmanagedBase := file\("([^"]+)"\)', "Spark jars")
    if not os.path.isdir(jars):
        die(f"Spark jars not found under {jars}")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR") or repo_default(
        root, "src/main/scala/graft/Bench.scala",
        r'getOrElse\("SPARK_GRAFT_SF_DIR", "([^"]+)"\)', "test data directory")
    build_dir = os.path.abspath(os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                                             "perfbench"))
    os.makedirs(build_dir, exist_ok=True)
    classes = build(root, jars, build_dir)

    tmp = os.path.join(build_dir, "tmp")
    subprocess.run(["rm", "-rf", tmp], check=True)
    os.makedirs(tmp)
    out_dir = os.path.join(build_dir, "results")
    cmd = (["java"] + build_jvm_options(root) + HEAP
           + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
              "-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--sf", sf,
              "--work", os.path.join(build_dir, "work", a.workload), "--out", out_dir,
              "--expected", os.path.join(here, "expected", f"{a.workload}.tsv")])
    for flag in ("inject", "record", "survey"):
        if getattr(a, flag) is not None:
            cmd += [f"--{flag}", str(getattr(a, flag))]

    probe = PagingProbe()
    cpu0 = cpu_times()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die("interrupted")
    signal.signal(signal.SIGTERM, stop)
    try:
        out, _ = proc.communicate(timeout=None if a.survey else JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"no result within {JVM_TIMEOUT_S} s")
    if proc.returncode != 0:
        sys.stdout.write(out)
        die(f"benchmark JVM exited with code {proc.returncode}")
    if a.record or a.survey:
        return
    lines = out.rstrip("\n").split("\n")
    json.loads(lines[-1])
    cpu1 = cpu_times()
    host = {"nproc": os.cpu_count(), "paging_probe_ratio": round(probe.ratio(), 3),
            "cpu_steal_share": round((cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1]), 4),
            "loadavg_end": os.getloadavg()}
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    report = os.path.join(out_dir, f"report-{tag}.json")
    with open(report) as f:
        rep = json.load(f)
    rep["host"] = host
    with open(report, "w") as f:
        json.dump(rep, f)
    print("\n".join(lines[:-1]))
    print(f"[perfbench] host {json.dumps(host)} report {os.path.relpath(report, root)}")
    print(lines[-1])


if __name__ == "__main__":
    main()
