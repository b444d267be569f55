#!/usr/bin/env python3
"""graft benchmark: one command runs one workload for one seed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the engine
and the harness (perfbench/build.sbt, which compiles ../src with the
harness) and caches the classpath under perfbench/target; later runs
reuse it while the sources are unchanged. Each run generates its inputs
from the seed (gen.py), runs the workload in one JVM (local[4]), checks
the outputs (in the JVM, and against the gates' DuckDB oracle SQL
here), prints a readable summary, and prints as its last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 the per-layer ones. A traced run also writes every span with
its counters to perfbench/.work/spans/<workload>-s<seed>.json; the rest
of the run's work directory is deleted when the run ends.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("event_graph", "analytics", "lifecycle")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 800
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


_children = []


def _stop_children(signum, _frame):
    for c in _children:
        c.kill()
        c.wait()
    sys.exit(128 + signum)


def run_child(cmd, timeout, **kw):
    """Run a child process to completion; it is killed (and waited for)
    on timeout or when this process is terminated. Returns the return
    code, or None on timeout."""
    proc = subprocess.Popen(cmd, **kw)
    _children.append(proc)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        return None
    finally:
        _children.remove(proc)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def find_spark_home():
    """The first Spark install on PATH: a spark-submit whose install has
    a jars/ directory (pip's pyspark shims have none)."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
            if os.path.isdir(os.path.join(home, "jars")):
                return home
    return None


def build():
    """Compile once per source state; returns the runtime classpath."""
    engine_src = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(engine_src):
        log(f"engine sources not found at {engine_src}: run from a full checkout")
        sys.exit(2)
    stamp = source_stamp()
    cache = os.path.join(HERE, "target", "bench-classpath.json")
    if os.path.exists(cache):
        with open(cache) as f:
            c = json.load(f)
        if c.get("stamp") == stamp:
            return c["classpath"]
    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        home = find_spark_home()
        if home is None:
            log("SPARK_HOME is not set and no Spark install is on PATH: the build needs Spark's jars")
            sys.exit(3)
        env["SPARK_HOME"] = home
    log("building engine + harness with sbt ...")
    os.makedirs(os.path.join(HERE, "target"), exist_ok=True)
    build_log = os.path.join(HERE, "target", "build.log")
    with open(build_log, "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT)
    with open(build_log) as f:
        text = f.read()
    lines = [l for l in text.splitlines() if l.strip()]
    if rc != 0 or not lines or "classes" not in lines[-1]:
        log(text[-4000:])
        log("build failed")
        sys.exit(3)
    cp = lines[-1].strip()
    with open(cache, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def run_jvm(cp, args, data, work):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           "-XX:+UseParallelGC",
           "-XX:-UseDynamicNumberOfCompilerThreads", f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--data", data, "--work", work,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace)]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as out:
        rc = run_child(cmd, JVM_TIMEOUT_S, stdout=out, stderr=subprocess.STDOUT, cwd=work)
    if rc is None:
        log("workload JVM timed out")
        sys.exit(4)
    res = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(res):
        with open(f"{work}/jvm.log") as f:
            log(f.read()[-4000:])
        log(f"workload JVM failed (rc={rc})")
        sys.exit(5)
    with open(res) as f:
        return json.load(f)


def canon(rows, cols):
    """Rows as sorted strings, columns sorted by name, the way the
    engine's oracle checker canonicalises them."""
    import decimal
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if v is None or v != v:
            return "NULL"
        if isinstance(v, decimal.Decimal):
            v = float(v)
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        return str(v)
    return sorted("\x1f".join(cell(r[i]) for i in order) for r in rows)


def oracle_checks(data, res):
    """Each dumped gate output against its oracle SQL in DuckDB over the
    same generated tables."""
    import duckdb
    con = duckdb.connect()
    for t in gen.TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    out = []
    for name, path in sorted(res["dumps"].items()):
        got = con.sql(f"SELECT * FROM '{path}/*.parquet'")
        exp = con.sql(res["oracle_sql"][name])
        gc, ec = got.columns, exp.columns
        ok = sorted(gc) == sorted(ec) and canon(got.fetchall(), gc) == canon(exp.fetchall(), ec)
        out.append({"name": f"oracle:{name}", "ok": ok, "detail": ""})
    return out


def median(xs):
    return statistics.median(xs)


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def ops_of(res):
    """Operation name -> [(wall_s, cpu_s)] over the timed rounds."""
    ops = {}
    for r in res["rounds"]:
        for o in r["ops"]:
            ops.setdefault(o["name"], []).append((o["s"], o["cpu_s"]))
    return ops


def end_to_end(res):
    """The end-to-end metrics, all from the untraced run. `round_wall_s`
    is the latency a user waits for a round, scheduler and task-launch
    waits included. The other times are CPU seconds of the engine's JVM
    (every thread but the JIT compiler's), which other tenants' load on
    a shared host moves less than wall time."""
    return {
        "round_wall_s": median([r["wall_s"] for r in res["rounds"]]),
        "round_cpu_s": median([r["cpu_s"] for r in res["rounds"]]),
        "geomean_cpu_s": geomean([median([c for _, c in v]) for v in ops_of(res).values()]),
        "heap_retained_mb": res["heap_retained_mb"],
        "setup_s": median(res["setup_cpu_s"]),
    }


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the self-check uses a small one)")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop_children)
    signal.signal(signal.SIGINT, _stop_children)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build()
    run_name = f"{args.workload}-s{args.seed}"
    work = os.path.join(HERE, ".work", f"{run_name}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    sizes = gen.generate(data, args.seed, args.scale)
    try:
        res = run_jvm(cp, args, data, work)
        checks = res["checks"] + oracle_checks(data, res)
        if args.trace:
            spans = os.path.join(HERE, ".work", "spans")
            os.makedirs(spans, exist_ok=True)
            os.replace(os.path.join(work, "spans.json"), os.path.join(spans, f"{run_name}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(len(r["ops"]) for r in res["rounds"])
    op_failures = sum(r["failed"] for r in res["rounds"])
    bad = [c for c in checks if not c["ok"]]
    failed = min(attempted, op_failures + len(bad))
    correct = not bad and op_failures == 0 and not res["errors"] and attempted > 0

    if args.trace:
        layer = res["per_layer"]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {n: {"value": layer[n], "unit": u} for n, u in units.items()}
    else:
        e2e = end_to_end(res)
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}

    c0, c1 = res["calibration_s"]
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} inputs {sizes}")
    print(f"rounds {len(res['rounds'])} median wall {median([r['wall_s'] for r in res['rounds']]):.3f}s "
          f"warm-up wall {res['warmup_s']:.3f}s set-up walls {['%.3f' % s for s in res['setup_s']]} "
          f"cpu {['%.2f' % s for s in res['setup_cpu_s']]} (diagnostic)")
    print(f"run wall {time.time() - t_start:.1f}s session start {res['session_start_s']:.3f}s (diagnostic)")
    print(f"calibration start {c0:.4f}s end {c1:.4f}s drift {c1 / c0 - 1:+.1%} (diagnostic)")
    for name, v in ops_of(res).items():
        print(f"op {name}: n={len(v)} median wall {median([w for w, _ in v]):.3f}s "
              f"cpu {median([c for _, c in v]):.3f}s (diagnostic)")
    for c in checks:
        print(f"check {c['name']}: {'ok' if c['ok'] else 'FAIL ' + c['detail']}")
    for e in res["errors"]:
        print(f"error {e}")
    for n, m in metrics.items():
        print(f"metric {n} = {m['value']} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
