#!/usr/bin/env python3
"""The repository benchmark: one command, four workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness with sbt into the checkout (``target/``, ``perfbench/target/``) and
records the classpath under ``.bench_build/``; later runs reuse the build
while the sources are unchanged. Each run then

1. generates the workload's inputs from ``--seed`` (``perfbench/gen.py``),
2. starts one JVM (``perfbench.Main``) that builds graft.Bench's session on
   ``local[4]``, warms up, and runs the workload's operations in a closed
   loop for about ``--seconds``: ``--seconds`` divided by the workload's
   nominal pass wall, at least one, timed passes, timing each call,
3. compares every checked output with DuckDB's result for it, after the
   timed passes,
4. writes the full record -- per-operation ledger, spans, provenance -- to
   ``.bench_build/results/<workload>-seed<n>-trace<t>.json`` and prints a
   short summary whose last line is the JSON result.

It exits nonzero if any operation throws or any output differs from DuckDB.
See ``perfbench/README.md`` for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402

# Input sizes -- tables at a TPC-H-style scale factor, or days of about
# `per_day` videos -- and the nominal wall of one warm pass, which turns
# --seconds into a fixed number of timed passes.
WORKLOADS = {
    "medallion_daily": {"days": 7, "per_day": 1500, "warm_days": 1, "warm_per_day": 300, "pass_s": 20},
    "table_changes": {"sf": 0.1, "pass_s": 7.5},
}
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
JVM_TIMEOUT_S = 170
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def sources():
    """Every file the build reads from the checkout."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    return [f for f in files if os.path.isfile(f)]


def source_digest():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def git_commit():
    """The checkout's commit, or None outside a git work tree."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def build():
    """Builds the engine and harness once per source state; returns the
    runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or not os.path.isdir(os.path.join(ROOT, "src")):
        sys.exit("perfbench: no engine sources next to the benchmark (run from the repository root)")
    digest = source_digest()
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(stamp) and os.path.isfile(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=fh, text=True, timeout=840)
        fh.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.exit(f"perfbench: build failed, see {log}")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    try:
        subprocess.run(java(lines[-1], ["oracles", os.path.join(BUILD, "oracle_sql.json")], tmp),
                       cwd=ROOT, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=120)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp, "w") as fh:
        fh.write(digest)
    return lines[-1]


def java(classpath, args, tmp):
    """The JVM command line: graft's JDK 17 module opens, temp files under
    `tmp`, and a fixed 4 GiB heap with a fixed 1 GiB young generation, so
    memory and GC figures do not follow adaptive heap sizing."""
    return (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JAVA_OPENS]
            + ["-Xms4g", "-Xmx4g", "-Xmn1g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.Main"] + args)


def write_days(manifest, path):
    with open(path, "w") as fh:
        for m in manifest:
            fh.write(f"{m['date']}\t{m['dir']}\t{m['valid_records']}\t{m['staged_rows']}\t{m['facts_total']}\n")


def make_inputs(workload, seed, rundir):
    """Generates the workload's inputs; returns the JVM's input and warm-up
    input arguments and the raw manifest (None for table workloads)."""
    w = WORKLOADS[workload]
    if workload == "medallion_daily":
        days = gen.raw_days(os.path.join(rundir, "raw"), seed, w["days"], w["per_day"])
        warm = gen.raw_days(os.path.join(rundir, "warm"), seed + 7919, w["warm_days"], w["warm_per_day"],
                            first_day="2023-12-01")
        write_days(days, os.path.join(rundir, "days.tsv"))
        write_days(warm, os.path.join(rundir, "warm_days.tsv"))
        return os.path.join(rundir, "days.tsv"), os.path.join(rundir, "warm_days.tsv"), days
    gen.tables(os.path.join(rundir, "tables"), w["sf"], seed)
    return os.path.join(rundir, "tables"), "-", None


def oracles(workload, inputs, raw_manifest, out):
    """Runs the DuckDB oracle of each of the workload's checked outputs,
    leaving `<name>.parquet` in `out` for the JVM to compare."""
    import duckdb
    with open(os.path.join(BUILD, "oracle_sql.json")) as fh:
        spec = json.load(fh)
    os.makedirs(out)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    if raw_manifest is None:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet')")
    for name in spec["workloads"][workload]:
        sql = spec["sql"][name]
        if raw_manifest is not None:
            def files(key):
                return "[" + ", ".join(f"'{m['dir']}/{f}'" for m in raw_manifest for f in m[key]) + "]"
            sql = sql.replace("{videos}", files("video_files")).replace("{channels}", files("channel_files"))
        try:
            con.execute(f"COPY ({sql}) TO '{os.path.join(out, name)}.parquet' (FORMAT PARQUET)")
        except duckdb.Error as e:  # the JVM reports the missing result as a failed check
            print(f"perfbench: DuckDB oracle for {name} failed: {e}"[:300], file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    classpath = build()  # the first run in a checkout may build; the 180 s run limit starts after it
    started = time.time()

    rundir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    tmp, outdir = os.path.join(rundir, "tmp"), os.path.join(rundir, "out")
    os.makedirs(tmp)
    try:
        t0 = time.time()
        inputs, warm, raw_manifest = make_inputs(a.workload, a.seed, rundir)
        gen_s = time.time() - t0
        t1 = time.time()
        oracle_dir = os.path.join(rundir, "oracle")
        oracles(a.workload, inputs, raw_manifest, oracle_dir)
        oracle_s = time.time() - t1
        passes = max(1, int(a.seconds // WORKLOADS[a.workload]["pass_s"]))
        cmd = java(classpath, [a.workload, inputs, warm, oracle_dir, outdir, str(a.seed), str(passes), str(a.trace)], tmp)
        launched = time.time()
        with open(os.path.join(rundir, "jvm.log"), "w") as log:
            timeout = max(10.0, JVM_TIMEOUT_S - (launched - started))
            r = subprocess.run(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT, timeout=timeout)
        result_file = os.path.join(outdir, "result.json")
        if r.returncode != 0 or not os.path.isfile(result_file):
            tail = open(os.path.join(rundir, "jvm.log"), errors="replace").read()[-1500:]
            sys.exit(f"perfbench: JVM exited with {r.returncode}\n{tail}")
        with open(result_file) as fh:
            result = json.load(fh)
        setup_s = gen_s + (result["first_op_epoch_ms"] / 1000.0 - launched)

        metrics, layers = dict(result["end_to_end"]), dict(result["per_layer"])
        metrics["setup_s"] = setup_s
        failures, failed, attempted = result["failures"], result["failed"], result["attempted"]
        result.update({"setup_s": setup_s, "gen_s": gen_s, "oracle_s": oracle_s,
                       "source_sha256": source_digest(), "git_commit": git_commit(), "argv": sys.argv[1:]})
        os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
        artifact = os.path.join(BUILD, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
        with open(artifact, "w") as fh:
            json.dump(result, fh)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)

    source = layers if a.trace else metrics

    def number(v):  # counts print without a fractional part
        return int(v) if float(v).is_integer() else float(v)
    out = {m["name"]: {"value": number(source.get(m["name"], 0)), "unit": m["unit"]}
           for m in spec["per_layer" if a.trace else "end_to_end"]}
    # stdout is the JSON result alone, compact, so it stays under 2000
    # characters; the human summary goes to stderr
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace}: {attempted} operations, "
          f"{failed} failed, {len(result['pass_walls_s'])} pass(es); full record in "
          f"{os.path.relpath(artifact, ROOT)}", file=sys.stderr)
    for f in failures[:5]:
        print("  FAILED " + f[:200], file=sys.stderr)
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": failed, "metrics": out},
                     separators=(",", ":")))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
