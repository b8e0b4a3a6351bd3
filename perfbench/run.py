#!/usr/bin/env python3
"""Repository benchmark: build the projector from source, run one workload
in one JVM, check its outputs and print one JSON result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Compiles `src/main/scala` and
`perfbench/src` with the Scala compiler shipped in Spark's jars directory
(no sbt), into `$CARGO_TARGET_DIR` (default `.bench_build`), and reuses
the build while the sources are unchanged. `--trace 0` prints the
end-to-end metrics of BENCHMARK.json, `--trace 1` the per-layer ones.
The full record (context, every metric, the reason for each failed op)
is printed on the line before the result.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
RUN_TIMEOUT_S = 170
SEED_TIMEOUT_S = 600

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jars: `$SPARK_HOME/jars`, else the `unmanagedBase` that
    build.sbt names."""
    if "SPARK_HOME" in os.environ:
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        except OSError:
            m = None
        if not m:
            die("set SPARK_HOME: build.sbt names no unmanagedBase")
        jar_dir = m.group(1)
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not any("scala-compiler" in j for j in jars):
        die(f"no Spark jars with a Scala compiler under {jar_dir}")
    return jars


def sources(root):
    out = []
    for d, _, fs in os.walk(root):
        out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def scalac(jars, classpath, srcs, out, log):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", os.pathsep.join(classpath)] + srcs
    with open(log, "w") as fh:
        r = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        die(f"compile failed, see {log}")


def build(build_dir, jars):
    """Compile the program, then the benchmark, each once per source
    digest. Returns the (program, bench) class directories."""
    prog = sources(PROGRAM_SRC)
    if not prog:
        die(f"no program sources under {PROGRAM_SRC}")
    pkey = digest(prog)
    bkey = digest(prog + sources(BENCH_SRC))
    out = []
    for kind, key, srcs, cp in (("program", pkey, prog, jars),
                                ("bench", bkey, sources(BENCH_SRC), None)):
        d = os.path.join(build_dir, f"{kind}-{key}")
        if not os.path.exists(os.path.join(d, "ok")):
            for old in glob.glob(os.path.join(build_dir, f"{kind}-*")):
                shutil.rmtree(old, ignore_errors=True)
            t0 = time.time()
            scalac(jars, cp or jars + [out[0]], srcs, d, os.path.join(build_dir, f"scalac-{kind}.log"))
            open(os.path.join(d, "ok"), "w").close()
            print(f"perfbench: compiled the {kind} in {time.time() - t0:.1f} s", file=sys.stderr)
        out.append(d)
    return out


def heap_gb():
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
        return max(2, min(6, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 2


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "source-" + digest(sources(PROGRAM_SRC))


def launch(classes, jars, work, args, timeout=RUN_TIMEOUT_S):
    """Run one benchmark JVM; returns its last JSON line, if any."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = [classes[1], classes[0]] + jars
    cmd = (["java", f"-Xmx{heap_gb()}g", f"-Xms{heap_gb()}g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-Dspark.driver.memory=%dg" % heap_gb(),
            "-Dderby.system.home=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(cp), "perfbench.Main", "--work", work] + args)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            cwd=work, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die(f"the benchmark JVM did not finish within {timeout} s")
    if proc.returncode != 0:
        die(f"benchmark JVM exited with {proc.returncode}")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    return json.loads(lines[-1]) if lines else None


def base_store(build_dir, classes, jars):
    """Seed the catch-up workloads' store once per build (see BaseStore)."""
    key = digest(sources(PROGRAM_SRC) + [os.path.join(BENCH_SRC, "Base.scala")])
    base = os.path.join(build_dir, "base-" + key)
    if not os.path.exists(os.path.join(base, "seed_s")):
        for old in glob.glob(os.path.join(build_dir, "base-*")):
            shutil.rmtree(old, ignore_errors=True)
        os.makedirs(base)
        work = os.path.join(build_dir, "work", f"base-{os.getpid()}")
        os.makedirs(work, exist_ok=True)
        t0 = time.time()
        try:
            launch(classes, jars, work, ["--workload", "base-store", "--base", base],
                   timeout=SEED_TIMEOUT_S)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: seeded the base store in {time.time() - t0:.1f} s", file=sys.stderr)
    return base


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--drop-row", action="store_true",
                    help="drop one store row before the check (self-test)")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found at the repository root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {a.workload}")
    jars = spark_jars()
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classes = build(build_dir, jars)
    base = base_store(build_dir, classes, jars)

    work = os.path.join(build_dir, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--base", base, "--root", ROOT]
    if a.drop_row:
        args += ["--drop-row", "1"]
    try:
        record = launch(classes, jars, work, args)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if record is None:
        die("the benchmark JVM printed no record")

    attempted, failed = record["attempted"], record["failed"]
    record["context"]["commit"] = commit()
    record["context"]["run_wall_s"] = round(time.time() - t_start, 3)
    names = spec["per_layer" if a.trace else "end_to_end"]
    metrics = {}
    for m in names:
        got = record["metrics"].get(m["name"])
        if got is None:
            die(f"metric {m['name']} was not measured")
        if got["unit"] != m["unit"]:
            die(f"metric {m['name']} measured in {got['unit']}, declared {m['unit']}")
        metrics[m["name"]] = {"value": got["value"], "unit": got["unit"]}
    print(json.dumps(record, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
