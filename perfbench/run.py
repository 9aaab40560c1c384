#!/usr/bin/env python3
"""End-to-end benchmark of the engine's own job.

    python3 perfbench/run.py --workload <ingest|dashboard|operator_suite>
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine from this checkout's sources together with the
benchmark (once per source state), pins the environment, runs one
workload in a fresh JVM, checks every output, and prints the metrics:
one `metric <name> <value> <unit>` line each, then one JSON object as the
last line. Exits nonzero if any operation failed or any check failed.

The sf tables are read from $GRAFT_TESTDATA (default: the `testdata`
directory in the home directory). See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import report  # noqa: E402

WORKLOADS = ("ingest", "dashboard", "operator_suite")
# Environment knobs that change the engine's plans or the bench's shape;
# a run never inherits them, so no change wins through its environment.
PINNED_PREFIX = "SPARK_GRAFT_"
# The JVM's share of the 180 s a run may take once built.
JVM_DEADLINE_S = 165
# The operators' scale; they warm up at sf0.001 beside it.
SUITE_SF = "sf0.01"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def nproc():
    return len(os.sched_getaffinity(0))


def driver_mem():
    """Half the host's memory in GiB, clamped to 2..8: the Spark driver
    heap the repo's tier-1 verify uses."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def sources_stamp():
    """Hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(env):
    """Compile engine + benchmark with sbt, once per source state; returns
    the runtime classpath and the sources' stamp."""
    out = os.path.join(HERE, ".build")
    stamp_file = os.path.join(out, "stamp")
    cp_file = os.path.join(out, "classpath")
    stamp = sources_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), stamp
    os.makedirs(out, exist_ok=True)
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    benv = dict(env, COURSIER_MODE="offline", SBT_OPTS=opts.strip())
    with open(os.path.join(out, "build.log"), "w") as log:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=benv, stdout=subprocess.PIPE, stderr=log,
            text=True, stdin=subprocess.DEVNULL)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-3000:])
        fail(f"build failed (see {os.path.join(out, 'build.log')})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, stamp


def pinned_env():
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(PINNED_PREFIX)}
    dropped = sorted(k for k in os.environ if k.startswith(PINNED_PREFIX))
    env["SPARK_GRAFT_CPUS"] = str(nproc())
    env["SPARK_DRIVER_MEM"] = driver_mem()
    env.pop("OMP_NUM_THREADS", None)
    return env, dropped


def cpu_ticks():
    """(steal, total) jiffies of the host's CPUs."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def run_jvm(cp, env, args, work, sf_dir, warehouse, texts):
    java = os.path.join(env["JAVA_HOME"], "bin", "java") \
        if env.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(env, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{env['SPARK_DRIVER_MEM']}", "-XX:+UseParallelGC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
            f"-Dderby.system.home={work}",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--sf", sf_dir,
            "--headliners", os.path.join(HERE, "headliners.txt"),
            "--warehouse", warehouse, "--corpus", texts]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                             stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL,
                             start_new_session=True)

        def stop():
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
        # the JVM runs in its own process group: take it down with us
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, lambda *a: (stop(), fail("interrupted")))
        try:
            rc = p.wait(timeout=JVM_DEADLINE_S)
        except subprocess.TimeoutExpired:
            stop()
            fail(f"run exceeded {JVM_DEADLINE_S} s; see {work}/jvm.log")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = [ln for ln in f.read().splitlines()
                    if "Exception" in ln or "Error" in ln][-8:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail(f"the run's JVM exited with {rc}; see {work}/jvm.log")
    with open(os.path.join(work, "record.json")) as f:
        return json.load(f)


def corpus(sf_dir):
    """The description corpus: sf0.1 `documents` text in doc_id order, one
    text per line, extracted once."""
    src = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src)
    path = os.path.join(HERE, ".cache", f"corpus-{st.st_size}-{int(st.st_mtime)}.txt")
    if not os.path.exists(path):
        import pyarrow.parquet as pq
        t = pq.read_table(src, columns=["doc_id", "text"]).to_pydict()
        texts = [x for _, x in sorted(zip(t["doc_id"], t["text"]))]
        if any("\n" in x or "\r" in x for x in texts):
            fail("a documents text spans lines")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w", encoding="utf-8") as f:
            f.write("\n".join(texts) + "\n")
        os.replace(path + ".tmp", path)
    return path


def shared_state(cp, env, stamp, sf_dir, texts):
    """State every run of a build shares, made by the build's first run
    (which may take longer than the others): DuckDB's headliner results
    and the warehouse the dashboard reads, built by `Pipeline.run` in a
    JVM of its own so that every measured dashboard run starts the same
    way. Returns the warehouse."""
    wh = os.path.join(HERE, ".cache", "warehouse-" + stamp[:16])
    if not os.path.isdir(wh):
        oracle_results(sf_dir)
        work = os.path.join(HERE, ".work", "warehouse")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        tmp = wh + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        prep = argparse.Namespace(workload="warehouse", seed=0, seconds=1,
                                  trace=0)
        run_jvm(cp, env, prep, work, sf_dir, tmp, texts)
        os.replace(tmp, wh)
    return wh


def oracle_results(sf_dir):
    import oracle_check
    with open(os.path.join(HERE, "oracle.json")) as f:
        oracle = json.load(f)
    return oracle_check.expected(sf_dir, oracle,
                                 os.path.join(HERE, ".cache", "expected"))


def check_suite(record, work, expected):
    """Compare every headliner output the run wrote (`<pass>/<name>` under
    suite-out) with DuckDB's result, and fail the operations that
    disagree."""
    import oracle_check
    import pandas as pd
    mismatches = {}
    for op in record["ops"]:
        if op["kind"] not in report.SUITE_KINDS or not op["ok"]:
            continue
        path = os.path.join(work, "suite-out", op["name"])
        if not os.path.isdir(path):
            mismatches[op["name"]] = "no output written"
            continue
        why = oracle_check.compare(expected[op["name"].split("/")[1]],
                                   pd.read_parquet(path))
        if why:
            mismatches[op["name"]] = why
    report.mark_suite_outputs(record["ops"], mismatches)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {ROOT}/src/main/scala")
    data = os.environ.get("GRAFT_TESTDATA",
                          os.path.join(os.path.expanduser("~"), "testdata"))
    for sf in ("sf0.1", SUITE_SF, "sf0.001"):
        if not os.path.isfile(os.path.join(data, sf, "documents.parquet")):
            fail(f"testdata {os.path.join(data, sf)} not found")
    sf_dir = os.path.join(data, SUITE_SF)

    env, dropped = pinned_env()
    cp, stamp = build(env)
    texts = corpus(os.path.join(data, "sf0.1"))
    warehouse = shared_state(cp, env, stamp, sf_dir, texts)
    # DuckDB runs before the JVM, never beside it
    with_suite = args.workload == "operator_suite" or \
        (args.workload == "dashboard" and args.trace)
    expected = oracle_results(sf_dir) if with_suite else None

    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    steal0, total0 = cpu_ticks()
    record = run_jvm(cp, env, args, work, sf_dir, warehouse, texts)
    steal1, total1 = cpu_ticks()
    # time the hypervisor gave this VM's CPUs to others while the run ran
    record["env"]["host_steal_pct"] = round(
        100.0 * (steal1 - steal0) / max(1, total1 - total0), 1)
    if with_suite:
        check_suite(record, work, expected)

    attempted, failed, values, named = report.summarize(args.workload, record)
    env_info = dict(record["env"], seed=args.seed, seconds=args.seconds,
                    trace=args.trace, dropped_env=dropped,
                    driver_mem=env["SPARK_DRIVER_MEM"],
                    graft_cpus=env["SPARK_GRAFT_CPUS"], **record["info"])
    print("env " + json.dumps(env_info, sort_keys=True))
    for op in record["ops"]:
        if not op["ok"]:
            print(f"FAILED {op['kind']} {op['name']}: {op['error']}")
    for name, (v, unit) in named.items():
        print(f"metric {name} {v} {unit}")
    if args.trace:
        layers = dict(record["layers"], **{
            "jvm.peak_rss_mb": record["peak_rss_mb"]})
        metrics = report.layer_values(args.workload, layers)
        units = report.PER_LAYER
        for name, unit in report.EXTRA_LAYERS.items():
            if name in record["layers"]:
                print(f"metric {name} {record['layers'][name]} {unit}")
    else:
        metrics, units = values, report.END_TO_END
    for name, v in metrics.items():
        print(f"metric {name} {v} {units[name]}")
    # keep the record (spans included) beside the run, drop bulky outputs
    for d in os.listdir(work):
        p = os.path.join(work, d)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
    with open(os.path.join(work, "record.json"), "w") as f:
        json.dump(record, f)
    line = report.result_line(attempted, failed, metrics, units)
    print(json.dumps(line))
    sys.exit(0 if line["correct"] else 1)


if __name__ == "__main__":
    main()
