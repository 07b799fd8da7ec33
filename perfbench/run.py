#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: build, generate inputs, run, check.

    python3 perfbench/run.py --workload <football_batch|curation>
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test
    python3 perfbench/run.py --record <workload> [--dump <dir>]

Run from the repository root. The program is compiled from
`src/main/scala` and the benchmark from `perfbench/src` with the Scala
compiler shipped in the Spark jars directory (no build tool). Inputs
are generated from the seed (`datagen.py`). A run starts one JVM that
starts Spark, runs three untimed warm-up passes and then timed passes over
the workload's jobs (see README.md). Every job's result is checked; the
last stdout line is the JSON result.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import datagen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("football_batch", "curation")
SCALE = 0.1  # input size as a fraction of the sf0.1 fixture set
HEAP = "3g"
START_HEAP = "1g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def spark_jars():
    """The Spark jars directory: the build's `unmanagedBase`, else
    $SPARK_HOME/jars."""
    cands = []
    if Path("build.sbt").exists():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      Path("build.sbt").read_text())
        if m:
            cands.append(Path(m.group(1)))
    if os.environ.get("SPARK_HOME"):
        cands.append(Path(os.environ["SPARK_HOME"], "jars"))
    for d in cands:
        if (d / "spark-core_2.13-4.1.2.jar").exists():
            return d
    sys.exit("perfbench: Spark 4.1.2 jars not found (build.sbt "
             "unmanagedBase or $SPARK_HOME/jars)")


def sources_hash(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def scalac(jars, classpath, files, out):
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    comp = [str(jars / f"scala-{n}-2.13.17.jar")
            for n in ("compiler", "library", "reflect")]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(comp),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", str(tmp)] + [str(f) for f in files]
    log(f"perfbench: compiling {len(files)} sources into {out}")
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"perfbench: compile failed\n{r.stdout[-4000:]}")
    os.replace(tmp, out)


def build(build_dir):
    """Compile program and benchmark if their sources changed."""
    prog_src = sorted(Path("src/main/scala").rglob("*.scala"))
    if not prog_src:
        sys.exit("perfbench: no program sources under src/main/scala "
                 "(run from the repository root)")
    bench_src = sorted((HERE / "src").glob("*.scala"))
    jars = spark_jars()
    jar_cp = ":".join(str(p) for p in sorted(jars.glob("*.jar")))
    ph = sources_hash(prog_src)
    prog = build_dir / f"program-{ph}"
    if not prog.exists():
        scalac(jars, jar_cp, prog_src, prog)
    bench = build_dir / f"bench-{sources_hash(bench_src, ph)}"
    if not bench.exists():
        scalac(jars, f"{prog}:{jar_cp}", bench_src, bench)
    return f"{bench}:{prog}:{jars}/*"


def jvm_env():
    # the session conf is fixed by the benchmark: no SPARK_* / JVM
    # option variables of the calling shell may reach the JVM
    return {k: v for k, v in os.environ.items()
            if not k.startswith(("SPARK_", "PYSPARK_"))
            and k not in ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS",
                          "JDK_JAVA_OPTIONS")}


def jvm_cmd(classpath, work, args):
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # growing the heap from the JVM's small default start size costs
    # frequent young collections, on every CPU, in the first passes
    return (["java", f"-Xms{START_HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work / 'tmp'}",
             "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"] + opens +
            ["-cp", classpath, "perfbench.Main"] +
            [str(x) for kv in args.items() for x in ("--" + kv[0], kv[1])])


def run_session(classpath, work, args, log_path):
    """Run the benchmark JVM; returns (setup seconds, its result dict)."""
    out = work / "session.json"
    args = dict(args, out=out, work=work)
    with open(log_path, "w") as errf:
        t0 = time.monotonic()
        p = subprocess.Popen(jvm_cmd(classpath, work, args), env=jvm_env(),
                             stdout=subprocess.PIPE, stderr=errf, text=True)
        setup = None
        for line in p.stdout:
            if line.strip() == "PERFBENCH READY" and setup is None:
                setup = time.monotonic() - t0
            elif line.strip():
                log(line.rstrip())
        rc = p.wait()
    drop_checkpoint_base(p.pid)
    if rc != 0 or setup is None or not out.exists():
        tail = Path(log_path).read_text(errors="replace")[-3000:]
        sys.exit(f"perfbench: benchmark JVM exited {rc}\n{tail}")
    return setup, json.loads(out.read_text())


def run_jvm(classpath, work, args, log_path):
    """Run a benchmark JVM to completion (stdout passed through)."""
    with open(log_path, "w") as errf:
        p = subprocess.Popen(jvm_cmd(classpath, work, args), env=jvm_env(),
                             stderr=errf)
        rc = p.wait()
    drop_checkpoint_base(p.pid)
    return rc


def drop_checkpoint_base(pid):
    # StreamingQueries keeps replay checkpoints under a per-JVM directory
    # in /dev/shm/graft_ckpt and deletes each one after its replay; the
    # emptied per-JVM directory is removed here once the JVM is gone
    for d in Path("/dev/shm/graft_ckpt").glob(f"p{pid}_*"):
        try:
            d.rmdir()
        except OSError:
            pass


def proc_stat():
    f = open("/proc/stat").readline().split()[1:]
    v = [int(x) for x in f]
    return (v[7] if len(v) > 7 else 0), sum(v)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record", choices=WORKLOADS)
    ap.add_argument("--dump")
    a = ap.parse_args()

    root = Path.cwd()
    build_dir = root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    classpath = build(build_dir)
    # Spark runs half the CPUs this process may use: the JIT compiler,
    # the GC and the driver thread keep the other half, so a task slot
    # rarely waits for a CPU
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    work = build_dir / "work" / f"{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    (build_dir / "logs").mkdir(exist_ok=True)
    log_path = build_dir / "logs" / (
        "selftest.log" if a.self_test else
        f"{a.record or a.workload}-seed{a.seed}{'-record' if a.record else ''}.log")
    try:
        if a.self_test:
            sys.exit(self_test(classpath, work, cores, log_path))
        wl = a.record or a.workload
        if wl is None:
            ap.error("--workload is required")
        data, table_stats = datagen.ensure_inputs(build_dir / "data",
                                                  SCALE, a.seed)
        base = {"workload": wl, "seed": a.seed, "cores": cores,
                "data": data.resolve(), "expected": HERE / "expected.json"}
        if a.record:
            sys.exit(record(classpath, work, base, a.dump, log_path))
        sys.exit(run(a, classpath, work, base, table_stats, log_path))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def record(classpath, work, base, dump, log_path):
    """Run each job of the workload twice and store its (rows, checksum)
    in expected.json; jobs whose two results differ are left out."""
    out = work / "recorded.json"
    args = dict(base, mode="record", out=out, work=work)
    if dump:
        args["dump"] = Path(dump).resolve()
    rc = run_jvm(classpath, work, args, log_path)
    if rc != 0:
        return rc
    path = HERE / "expected.json"
    exp = json.loads(path.read_text()) if path.exists() else {}
    prefix = base["workload"] + "/"
    exp = {k: v for k, v in exp.items() if not k.startswith(prefix)}
    exp.update(json.loads(out.read_text()))
    path.write_text("{\n" + ",\n".join(
        f" {json.dumps(k)}: {json.dumps(v)}" for k, v in sorted(exp.items()))
        + "\n}\n")
    return 0


def self_test(classpath, work, cores, log_path):
    import unittest
    suite = unittest.defaultTestLoader.discover(str(HERE / "tests"))
    ok = unittest.TextTestRunner(verbosity=1).run(suite).wasSuccessful()
    data, _ = datagen.ensure_inputs(work.parent.parent / "data", SCALE, 1)
    args = {"mode": "selftest", "cores": cores, "data": data.resolve(),
            "work": work}
    return 0 if ok and run_jvm(classpath, work, args, log_path) == 0 else 1


def run(a, classpath, work, base, table_stats, log_path):
    steal0, tot0 = proc_stat()
    # untraced runs report p80: size them so ten samples lie above it
    min_jobs = 0 if a.trace else stats.min_samples(0.8)
    args = dict(base, mode="run", seconds=a.seconds, trace=a.trace,
                **{"min-jobs": min_jobs})
    setup, session = run_session(classpath, work, args, log_path)
    steal1, tot1 = proc_stat()
    res = stats.aggregate(setup, session, a.trace == 1)
    for name, (value, unit) in sorted(res["metrics"].items()):
        print(f"{name} = {value:.6g} {unit}")
    for line in res["notes"]:
        print(line)
    if a.trace:
        trace = work.parent.parent / "traces" / f"{a.workload}-seed{a.seed}.json"
        trace.parent.mkdir(exist_ok=True)
        trace.write_text(json.dumps({"spans": res["spans"],
                                     "self_s": res["self_s"]}))
        print(f"trace written to {trace}")
    # box health: evidence for comparing runs, never a gated metric
    print("box_health " + json.dumps({
        "spin_ns_per_op": session["spin_ns_per_op"],
        "steal_pct": round(100.0 * (steal1 - steal0) / max(1, tot1 - tot0), 3)}))
    print("inputs " + json.dumps(table_stats, sort_keys=True))
    for f in res["failures"][:20]:
        print("FAILED " + f)
    for p in res["problems"]:
        print("CHECK " + p)
    result = {"correct": res["failed"] == 0 and not res["problems"],
              "attempted": res["attempted"], "failed": res["failed"],
              "metrics": {k: {"value": v, "unit": u}
                          for k, (v, u) in res["metrics"].items()}}
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    main()
