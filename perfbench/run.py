#!/usr/bin/env python3
"""The repository's benchmark: one command that builds the program from
source, makes the input tables unless they are given, runs one workload in
a fresh JVM, checks every output and prints every metric by name and unit.

    python3 perfbench/run.py --workload entries_tpch --seed 1 --seconds 20 --trace 0

Run it from the repository root. `--trace 0` prints the end-to-end metrics,
`--trace 1` the per-layer ones (see README.md). The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
Build outputs, tables, oracle answers and result files go to `.bench_build/`;
`PERFBENCH_SF_DIR` points the run at ready sf0.1 tables instead.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("entries_tpch", "wire_mixed")
SF = 0.1
XMX = "4g"
JVM_TIMEOUT_S = 170
GEN_TIMEOUT_S = 600
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    res = sorted(p for p in glob.glob(os.path.join(root, "src/main/resources/**"), recursive=True)
                 if os.path.isfile(p))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return prog, res, bench


def tree_hash(paths, root):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def scalac(jars, out, files, classpath, log):
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"  # outside `out`, which the build cleans per prefix
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", out, "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        fail(f"compile failed, see {log.name}")


def build(root, build_dir, jars):
    """Compiles the program, then the benchmark against it, each unless the
    exact same sources were compiled before: any changed file rebuilds."""
    prog, res, bench = sources(root)
    if not prog:
        fail("no program sources under src/main/scala; run from the repository root")
    os.makedirs(build_dir, exist_ok=True)
    prog_hash = tree_hash(prog + res, root)
    bench_hash = tree_hash(prog + res + bench, root)
    main = os.path.join(build_dir, "program-" + prog_hash[:16])
    out = os.path.join(build_dir, "bench-" + bench_hash[:16])
    for d, files, cp in ((main, prog, os.path.join(jars, "*")),
                         (out, bench, os.pathsep.join([main, os.path.join(jars, "*")]))):
        if os.path.exists(d + ".ok"):
            continue
        prefix = os.path.basename(d).split("-")[0]
        for old in glob.glob(os.path.join(build_dir, prefix + "-*")):
            shutil.rmtree(old, ignore_errors=True) if os.path.isdir(old) else os.remove(old)
        with open(d + ".log", "w") as log:
            scalac(jars, d, files, cp, log)
        if d == main:
            for p in res:
                dst = os.path.join(main, os.path.relpath(p, os.path.join(root, "src/main/resources")))
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.copy(p, dst)
        open(d + ".ok", "w").close()
    return main, out, bench_hash


def tables(root, build_dir, main_classes, jars):
    """The sf0.1 input tables and a directory for DuckDB's answers over them.

    `PERFBENCH_SF_DIR` names a directory of ready tables (the repository's
    sf0.1 test data, TESTDATA.md), read in place. Without it the program's
    own generator, `graft.dev.OrganicGen`, which is fitted to that data,
    writes the tables once per checkout into a directory named after a hash
    of its source. It draws nothing from the workload seed: every run reads
    the same bytes. The answers are cached under a key of the tables' paths,
    sizes and modification times."""
    data_dir = os.environ.get("PERFBENCH_SF_DIR")
    if data_dir:
        data_dir = os.path.abspath(data_dir)
    else:
        gen = os.path.join(root, "src/main/scala/graft/dev/OrganicGen.scala")
        with open(gen, "rb") as f:
            data_dir = os.path.join(build_dir, f"tables-sf{SF}-" +
                                    hashlib.sha256(f.read()).hexdigest()[:12])
        if not os.path.exists(os.path.join(data_dir, "_COMPLETE")):
            for old in glob.glob(os.path.join(build_dir, "tables-*")):
                shutil.rmtree(old, ignore_errors=True)
            tmp = os.path.join(data_dir, "_gen")
            os.makedirs(tmp)
            run_java(main_classes, jars, ["graft.dev.OrganicGen", data_dir, str(SF)], tmp,
                     "2g", GEN_TIMEOUT_S)
            shutil.rmtree(tmp)
            open(os.path.join(data_dir, "_COMPLETE"), "w").close()
    files = sorted(glob.glob(os.path.join(data_dir, "*.parquet")))
    if not files:
        fail(f"no parquet tables in {data_dir}")
    h = hashlib.sha256()
    for p in files:
        st = os.stat(p)
        h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}".encode())
    return data_dir, os.path.join(build_dir, "oracle-" + h.hexdigest()[:16])


def git_sha(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def cpu_ticks():
    """(steal, total) CPU ticks of the host so far, to stamp how much CPU
    other tenants took during a run; None where /proc/stat is absent."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def run_java(classes, jars, args, work_dir, xmx, timeout_s):
    """Runs a main on `classes` in `work_dir`, which also takes its temporary
    files; fails unless it exits with 0 within `timeout_s`."""
    cp = os.pathsep.join([classes, os.path.join(jars, "*")])
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Xmx{xmx}", f"-Djava.io.tmpdir={work_dir}/tmp", "-cp", cp] + args)
    os.makedirs(os.path.join(work_dir, "tmp"), exist_ok=True)
    with open(os.path.join(work_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work_dir)
        try:
            code = p.wait(timeout=timeout_s)
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0:
        fail(f"{args[0]} exited with {code}, see {work_dir}/jvm.log")


def run_jvm(main_classes, bench_classes, jars, args, run_dir):
    run_java(os.pathsep.join([bench_classes, main_classes]), jars, ["graftbench.Main"] + args,
             run_dir, XMX, JVM_TIMEOUT_S)
    path = os.path.join(run_dir, "jvm.json")
    if not os.path.exists(path):
        fail(f"benchmark JVM wrote no result, see {run_dir}/jvm.log")
    with open(path) as f:
        return json.load(f)


def main():
    # a SIGTERM unwinds through run_jvm's `finally`, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    build_dir = os.path.join(root, ".bench_build")
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark jars with the Scala compiler under $SPARK_HOME/jars")
    main_classes, bench_classes, src_hash = build(root, build_dir, jars)
    data_dir, oracle_dir = tables(root, build_dir, main_classes, jars)

    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    ticks0 = cpu_ticks()
    jvm = run_jvm(main_classes, bench_classes, jars, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", data_dir, "--out", run_dir], run_dir)
    ticks1 = cpu_ticks()
    steal = (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1) if ticks0 and ticks1 else None
    verdict = checks.check(jvm, data_dir, run_dir, oracle_dir)
    e2e = metrics.end_to_end(jvm, verdict)
    layers = metrics.per_layer(jvm, verdict) if a.trace else None
    # generated tables are stamped relative to the checkout, given ones as given
    stamp_dir = os.path.relpath(data_dir, root) if data_dir.startswith(build_dir) else data_dir
    env = dict(jvm["env"], data_dir=stamp_dir, workload=a.workload, git_sha=git_sha(root),
               src_sha256=src_hash,
               nproc=os.cpu_count(), seed=a.seed, seconds=a.seconds, trace=a.trace, sf=SF,
               xmx=XMX, connections=jvm.get("connections"), cpu_steal_frac=steal)
    result = {"env": env, "end_to_end": e2e, "per_layer": layers, "checks": verdict,
              "ops": [{"op": o["op"], "template": o["template"], "kind": o["kind"],
                       "phase": o["phase"], "ms": o["end_ms"] - o["start_ms"],
                       "at_ms": o["start_ms"] - jvm["timed_from_ms"],
                       "error": o["error"]} for o in jvm["ops"]],
              "spans": jvm["spans"] if a.trace else None,
              "self_ms": metrics.self_by_name(jvm["spans"]) if a.trace else None,
              "counters": jvm.get("counters")}
    os.makedirs(os.path.join(build_dir, "results"), exist_ok=True)
    out_path = os.path.join(build_dir, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)

    shown = layers if a.trace else e2e
    for name, m in shown.items():
        note = f"  ({m['note']})" if m.get("note") else ""
        print(f"{a.workload:18s} {name:28s} {m['value']:>16.6g} {m['unit']}{note}")
    for f in verdict["failures"][:20]:
        print(f"FAILED {f}")
    for f in verdict["replay_failures"][:20]:
        print(f"FAILED in the traced replay {f}")
    print(f"failed_frac = {verdict['failed']}/{verdict['attempted']}; "
          f"cpu_steal_frac = {steal}; result file {out_path}")
    print(json.dumps({
        "correct": verdict["failed"] == 0 and not verdict["failures"],
        "attempted": verdict["attempted"], "failed": verdict["failed"],
        "metrics": {k: {"value": m["value"], "unit": m["unit"]} for k, m in shown.items()}}))


if __name__ == "__main__":
    main()
