#!/usr/bin/env python3
"""graft benchmark: one workload, one fresh JVM, one JSON line.

    python3 perfbench/run.py --workload dedup|dq --seed N --seconds S --trace 0|1

Run from the repository root. The script
  1. compiles the program (src/main/scala) and the benchmark's Scala sources
     (perfbench/src) with the Scala compiler shipped in the Spark jars,
     into $CARGO_TARGET_DIR (default .bench_build), unless a build of the
     same sources is already there;
  2. writes the workload's input once per (seed, size), in a separate JVM;
  3. starts one JVM on local[nproc] with a fixed heap, which runs a cold
     pass, warm-up passes until steady, then timed passes for --seconds,
     and checks the last pass's output;
  4. for `dq`, checks the stored metric values and check statuses against
     DuckDB over the same parquet;
  5. prints {"correct", "attempted", "failed", "metrics"} as the last line:
     end-to-end metrics with --trace 0, per-layer metrics with --trace 1
     (then also a trace file with every span under <build>/traces).
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

sys.dont_write_bytecode = True
import dq  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """The jar directory build.sbt compiles against (its unmanagedBase),
    else $SPARK_HOME/jars; GRAFT_SPARK_JARS overrides both."""
    if os.environ.get("GRAFT_SPARK_JARS"):
        return os.environ["GRAFT_SPARK_JARS"]
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


SPARK_JARS = spark_jars()
HEAP = "2g"
JVM_TIMEOUT_S = 170

# input size per workload: files for dedup, rows for dq
SIZES = {"dedup": 2000, "dq": 300000}
# inputs kept per workload before the oldest is removed
KEEP_INPUTS = 12

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def build_root():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))


def _scalac(out, classpath, sources, log):
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath, "@" + argfile]
    with open(log, "ab") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, timeout=850).returncode
    os.remove(argfile)
    if rc != 0:
        raise BenchError(f"scalac failed ({rc}), see {log}")


def ensure_build(broot):
    """Compiles program + benchmark sources; returns the run classpath."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    main_files = sorted(glob.glob(os.path.join(main_src, "**", "*.scala"), recursive=True))
    bench_files = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    if not main_files:
        raise BenchError(f"no program sources under {main_src}")
    if not glob.glob(os.path.join(SPARK_JARS, "scala-compiler-*.jar")):
        raise BenchError(f"no Scala compiler in {SPARK_JARS}")
    h = hashlib.sha256()
    for p in main_files + bench_files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(SPARK_JARS))).encode())
    digest = h.hexdigest()
    classes = os.path.join(broot, "classes")
    stamp = os.path.join(classes, "stamp")
    jars = os.path.join(SPARK_JARS, "*")
    cp_of = lambda d: os.pathsep.join([os.path.join(d, "main"), os.path.join(d, "bench"), jars])
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return cp_of(classes)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log = os.path.join(broot, "build.log")
    t0 = time.time()
    _scalac(os.path.join(tmp, "main"), jars, main_files, log)
    _scalac(os.path.join(tmp, "bench"), os.pathsep.join([os.path.join(tmp, "main"), jars]), bench_files, log)
    with open(os.path.join(tmp, "stamp"), "w") as f:
        f.write(digest)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    print(f"built program and benchmark in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp_of(classes)


def jvm(cp, broot, mode, args, log, heap=HEAP):
    tmp = os.path.join(broot, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=1g", "-Xss4m",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"] + ADD_OPENS +
           ["-cp", cp, "graftbench.Main", mode] + [str(a) for a in args])
    with open(log, "ab") as lf:
        try:
            rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            raise BenchError(f"JVM {mode} timed out, see {log}")
    if rc != 0:
        with open(log, "rb") as lf:
            tail = lf.read()[-3000:].decode("utf-8", "replace")
        raise BenchError(f"JVM {mode} exited {rc}, see {log}\n{tail}")


def ensure_input(cp, broot, workload, seed, size, work):
    """The workload's input, written once per (seed, size) through a temp dir."""
    base = os.path.join(broot, "inputs")
    path = os.path.join(base, f"{workload}-s{seed}-n{size}")
    if os.path.isdir(path):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    if workload == "dq":
        dq.generate(tmp, seed, size)
    else:
        jsonl = os.path.join(work, "corpus.jsonl")
        jvm(cp, broot, "gen-corpus", ["--seed", seed, "--size", size, "--out", jsonl],
            os.path.join(work, "gen.log"), heap="1g")
        con = dq.duckdb.connect()
        con.execute("SET threads TO 2")
        con.execute(f"CREATE TABLE corpus AS SELECT *, row_number() OVER () - 1 AS i FROM read_json("
                    f"'{jsonl}', format='newline_delimited', maximum_object_size=67108864, columns="
                    "{repo: 'VARCHAR', path: 'VARCHAR', commit: 'VARCHAR', lang: 'VARCHAR', content: 'VARCHAR'})")
        dq.write_parts(con, "corpus", tmp, 8)
        con.close()
        os.remove(jsonl)
    os.rename(tmp, path)
    olds = sorted((p for p in glob.glob(os.path.join(base, f"{workload}-s*")) if not p.endswith(".tmp")),
                  key=os.path.getmtime)
    for p in olds[:-KEEP_INPUTS]:
        shutil.rmtree(p, ignore_errors=True)
    return path


def run(args):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)  # the metric names and units reported
    broot = build_root()
    size = SIZES[args.workload]
    cp = ensure_build(broot)
    work = os.path.join(broot, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        inp = ensure_input(cp, broot, args.workload, args.seed, size, work)
        t_input = time.time() - t0
        extra = []
        if args.workload == "dq":
            conf = os.path.join(work, "dq_job.conf")
            dq.write_conf(conf, size)
            extra = ["--dq-conf", conf]
        out = os.path.join(work, "result.json")
        launched = time.time()
        jvm(cp, broot, "run", ["--workload", args.workload, "--seed", args.seed, "--size", size,
                               "--seconds", args.seconds, "--trace", args.trace, "--input", inp,
                               "--work", work, "--out", out] + extra,
            os.path.join(work, "run.log"))
        with open(out) as f:
            res = json.load(f)
        checks = [(c["name"], c["failures"], c["first"]) for c in res["checks"]]
        if args.workload == "dq":
            checks += [(n, len(fs), fs[:5]) for n, fs in dq.judge(inp, res["last_out"], size)]
        for name, n, first in checks:
            print(f"check {name}: {'ok' if n == 0 else f'{n} FAILED'}", file=sys.stderr)
            for msg in first:
                print(f"    {msg}", file=sys.stderr)
        items = res["items"]
        pass_s = res["pass_s"]
        metrics = {
            # fastest pass: CPU steal on a shared host only ever slows a pass
            "items_per_s": items / min(pass_s),
            "cpu_us_per_item": min(res["cpu_s"]) / items * 1e6,
            "setup_s": res["setup_end_ms"] / 1000.0 - launched,
            "peak_heap_mb": res["peak_heap_mb"],
        }
        print(f"{args.workload}: input {t_input:.1f} s, checks {res['check_s']:.1f} s, "
              f"cold {res['cold_s']:.3f} s, warm-up {len(res['warm_s'])} passes "
              f"{[round(x, 3) for x in res['warm_s']]}, timed {len(pass_s)} passes "
              f"{[round(x, 3) for x in pass_s]}, cpu {[round(x, 3) for x in res['cpu_s']]}, "
              f"steal {res['steal_s']:.2f} s", file=sys.stderr)
        if args.trace == 1:
            layer = res["per_layer"]
            trace_dir = os.path.join(broot, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            trace_file = os.path.join(trace_dir, f"{args.workload}-s{args.seed}-{int(launched)}.json")
            with open(trace_file, "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed, "items": items,
                           "traced_end_to_end": metrics, "passes": pass_s,
                           "per_layer": layer, "spans": res["spans"]}, f, indent=1)
            print(f"trace written to {trace_file}", file=sys.stderr)
            reported = {m["name"]: {"value": float(layer.get(m["name"]) or 0.0), "unit": m["unit"]}
                        for m in bench["per_layer"]}
        else:
            reported = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in bench["end_to_end"]}
        return {"correct": all(n == 0 for _, n, _ in checks), "attempted": len(pass_s),
                "failed": 0, "metrics": reported}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        result = run(args)
    except (BenchError, OSError, subprocess.SubprocessError) as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        sys.exit(1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
