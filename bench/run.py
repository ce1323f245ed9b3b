"""Run one benchmark run and print its result.

    python3 bench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a source checkout. The first run builds the
harness and the engine from source (bench/build.sbt). Each run then:
generates its inputs from the seed, starts one JVM (bench/src), lets it
set up, time the workload's fixed number of passes (and run on,
uncounted, until --seconds have elapsed), and check every output
outside the timed region; then this script compares the batch outputs
with their DuckDB oracles and every later execution's row count with
the checked one, and prints informational lines followed by one JSON
result line. Scratch files live in a directory under bench/ that is
deleted when the run ends.

See bench/README.md for the workloads and the metrics.
"""
import time

T_START = time.time()

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads  # noqa: E402

JVM_TIMEOUT_S = 165
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"bench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build."""
    h = hashlib.sha256()
    files = sorted(
        glob.glob(os.path.join(ROOT, "src", "main", "**", "*.scala"),
                  recursive=True) +
        glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                  recursive=True) +
        [os.path.join(d, f) for d in (ROOT, HERE)
         for f in ("build.sbt", os.path.join("project", "build.properties"))])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_build():
    """Compile the engine (through its own build) and the harness once
    per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources at ../src/main/scala; run from the root "
             "of a source checkout")
    stamp_file = os.path.join(HERE, "target", "bench-build.json")
    stamp = source_stamp()
    try:
        with open(stamp_file) as f:
            built = json.load(f)
        if built["stamp"] == stamp:
            return built["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    # sbt's temporary files (socket directories) go to the ignored
    # build directory, not the system's temporary directory
    tmp = os.path.join(HERE, "target", "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    out = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true",
         f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [ln for ln in out.stdout.splitlines()
             if "target" in ln and ln.count(os.pathsep) > 2
             and not ln.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-3000:])
        fail("build failed", 1)
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, f)
    return lines[-1]


class Scratch:
    """A per-run directory for inputs, JVM temp files, Spark local dirs
    and the warehouse, removed at exit (also on SIGTERM)."""

    def __init__(self):
        base = os.path.join(HERE, ".work")
        os.makedirs(base, exist_ok=True)
        self.path = os.path.join(base, f"run_{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        for d in ("tmp", "local", "data"):
            os.makedirs(os.path.join(self.path, d))
        self.proc = None
        signal.signal(signal.SIGTERM, self._term)

    def _term(self, *_):
        self.close()
        sys.exit(143)

    def close(self):
        if self.proc is not None and self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()
        shutil.rmtree(self.path, ignore_errors=True)
        base = os.path.dirname(self.path)
        if os.path.isdir(base) and not os.listdir(base):
            os.rmdir(base)


def run_jvm(scratch, classpath, args):
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens",
                                                       f"{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
              "-XX:-UsePerfData",
              "-XX:ReservedCodeCacheSize=512m",
              f"-Djava.io.tmpdir={scratch.path}/tmp",
              "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              "-cp", classpath, "graftbench.Main"] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{scratch.path}/local")
    log = open(os.path.join(scratch.path, "jvm.log"), "w")
    scratch.proc = subprocess.Popen(cmd, stdout=log, stderr=log, env=env,
                                    cwd=scratch.path)
    try:
        code = scratch.proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        scratch.proc.kill()
        scratch.proc.wait()
        code = "timeout"
    log.close()
    return code


def oracle_checks(rec, data_dir):
    """Compare each batch operation's setup rows with its DuckDB oracle
    the way the repository's correctness gate does (tools/check.py:
    columns sorted by name, rows sorted, exact values), or check that
    they are not empty where there is no oracle. Returns the verdicts
    and each operation's expected row count."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import canon
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{data_dir}/{t}.parquet'")
    out, rows = {}, {}
    failed_setup = {f["op"]: f["err"] for f in rec.get("setup_failed", [])}
    oracle = rec.get("oracle", {})
    for op in rec.get("batch_ops", []):
        if op in failed_setup:
            out[op] = (False, f"failed: {failed_setup[op]}")
            continue
        try:
            t0 = time.time()
            got = canon(con.sql(
                f"SELECT * FROM '{rec['check_dir']}/{op}/*.parquet'"))
            want = canon(con.sql(oracle[op])) if op in oracle else None
            rec.setdefault("oracle_s", {})[op] = time.time() - t0
        except Exception as e:  # noqa: BLE001 - reported as a failure
            out[op] = (False, f"compare error: {e}"[:300])
            continue
        if want is None:
            rows[op] = len(got)
            out[op] = (len(got) > 0, f"{len(got)} rows, no oracle")
        elif list(got.columns) != list(want.columns):
            out[op] = (False, f"columns {list(got.columns)} != "
                              f"{list(want.columns)}")
        elif len(got) != len(want) or len(got) == 0:
            out[op] = (False, f"rows {len(got)} != {len(want)}")
        elif not got.equals(want):
            out[op] = (False, "values differ")
        else:
            rows[op] = len(want)
            out[op] = (True, f"{len(got)} rows")
    for op, (tables, files) in rec.get("leftovers", {}).items():
        out[op] = (False, f"left {tables} tables and {files} scratch "
                          f"files behind")
    return out, rows


def row_errors(rec, rows):
    """Executions after setup whose row count differs from the checked
    one (an operation that failed its check fails as a whole)."""
    return [dict(r, want=rows[r["op"]])
            for r in rec.get("pass_rows", [])
            if r["op"] in rows and r["rows"] != rows[r["op"]]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = ensure_build()
    scratch = Scratch()
    try:
        result = measure(a, classpath, scratch)
    finally:
        scratch.close()
    result["record"]["run_wall_s"] = time.time() - T_START
    records = os.path.join(HERE, "records")
    os.makedirs(records, exist_ok=True)
    with open(os.path.join(
            records, f"{a.workload}_s{a.seed}_t{a.trace}_"
                     f"{int(T_START * 1000)}.json"), "w") as f:
        json.dump(result["record"], f, indent=1, sort_keys=True)
    for line in result["info"]:
        print(line)
    print(json.dumps(result["final"]))
    # a wrong result is reported in the result line, not the exit code
    return 0


def measure(a, classpath, scratch):
    t_setup0 = time.time()
    data = os.path.join(scratch.path, "data")
    w = workloads.WORKLOADS[a.workload]
    # index_churn reads two tables; the traced run's probes read all
    churn = a.workload == "index_churn"
    tables = gen.write(os.path.join(data, "sf0.1"), 0.1, a.seed,
                       ["documents", "embeddings"] if churn and not a.trace
                       else None)
    ops = []
    if churn:
        plan = gen.churn(os.path.join(data, "churn"), tables["documents"],
                         tables["embeddings"], a.seed)
    else:
        plan = None
        ops = list(w["ops"])
        random.Random(a.seed).shuffle(ops)
    del tables
    out = os.path.join(scratch.path, "record.json")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--work", scratch.path, "--out", out,
            "--cores", str(os.cpu_count() or 1),
            "--warm-passes", str(w["warm_passes"]),
            "--min-passes", str(w["min_passes"])]
    if ops:
        args += ["--ops", ",".join(ops)]
    code = run_jvm(scratch, classpath, args)
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(scratch.path, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness JVM exited with {code}", 1)
    with open(out) as f:
        rec = json.load(f)
    rec["setup_clock_start_ms"] = t_setup0 * 1000.0
    if plan is not None:
        rec["churn_plan"] = plan
    if churn:
        checks = {c["op"]: (c["ok"], c["detail"] or f"{c['rows']} rows")
                  for c in rec.get("checks", [])}
    else:
        checks, rows = oracle_checks(rec, os.path.join(data, "sf0.1"))
        rec["row_errors"] = row_errors(rec, rows)
    spans = []
    if rec.get("spans"):
        with open(rec["spans"]) as f:
            spans = [json.loads(x) for x in f]
    return workloads.report(a, rec, checks, spans, HERE)


if __name__ == "__main__":
    sys.exit(main())
