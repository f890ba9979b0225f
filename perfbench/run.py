#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

Run from the root of a checkout:

    python3 perfbench/run.py --workload corpus_sf001 --seed 1 --seconds 30 --trace 0

The first run builds the harness and the graft sources of the checkout
with sbt (offline) and caches the classpath under perfbench/.build; later
runs reuse it while no source changed. Each run gets a fresh run
directory under perfbench/.run (warehouse, SPARK_LOCAL_DIRS, corpus
copies), deleted afterwards. The full result document, with the trace
when --trace 1, is written to perfbench/out/. The last line of standard
output is the result: {"correct", "attempted", "failed", "metrics"},
carrying the end-to-end metrics of BENCHMARK.json with --trace 0 and its
per-layer metrics with --trace 1. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORKLOADS = ("market_sf001", "corpus_sf001", "ingest_sf001")
DATA = os.path.join(HERE, "data", "sf0.01")
PINS = os.path.join(HERE, "pins", "sf0.01.json")
# ingest: share of orders and documents that arrives as deltas, in slices
# (slice 0 lands during set-up, as warm-up)
INGEST_DELTA_SHARE = 0.3
INGEST_SLICES = 3
# every run must end within 180 s; the harness gets what set-up leaves
RUN_LIMIT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
# the DuckDB calibration pass: fixed work over the same parquet, outside
# the timed loop, so machine drift can be told from a code change
CALIB_SQL = [
    "SELECT l_returnflag, l_linestatus, sum(l_quantity), sum(l_extendedprice * (1 - l_discount)),"
    " avg(l_discount), count(*) FROM lineitem GROUP BY ALL ORDER BY ALL",
    "SELECT o_orderpriority, count(*), sum(l_extendedprice) FROM orders o"
    " JOIN lineitem l ON l.l_orderkey = o.o_orderkey"
    " WHERE datediff('day', o.o_orderdate, l.l_shipdate) > 30 GROUP BY ALL ORDER BY ALL",
    "SELECT source, count(*), sum(length(text)) FROM documents GROUP BY ALL ORDER BY ALL",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build compiles, to reuse a cached build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile graft and the harness; return the runtime classpath."""
    digest = source_digest()
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip(), digest
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                           text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (rc={p.returncode}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1], digest


def calibrate(data):
    """Median wall time of three fixed DuckDB passes of five rounds (s)."""
    import duckdb
    con = duckdb.connect()
    for t in ("lineitem", "orders", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    times = []
    for _ in range(3):
        t = time.perf_counter()
        for _ in range(5):
            for q in CALIB_SQL:
                con.execute(q).fetchall()
        times.append(time.perf_counter() - t)
    con.close()
    return statistics.median(times)


def stage_ingest(data, out, seed):
    """Cut the corpus into the ingest base and its delta slices. The same
    share of the orders and of the documents arrives as deltas in every
    run; the seed only chooses which keys, by ranking them on a seeded
    hash. Lineitems go with their order, so every slice is
    order-complete."""
    import numpy as np
    import pyarrow.parquet as pq
    tables = {t: pq.read_table(f"{data}/{t}.parquet") for t in ("orders", "lineitem", "documents")}

    def rank(keys):
        """Each key's position in a seeded-hash order (splitmix64)."""
        with np.errstate(over="ignore"):
            x = keys.astype(np.uint64) + np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15)
            x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            x ^= x >> np.uint64(31)
        r = np.empty(len(keys), dtype=np.int64)
        r[np.argsort(x, kind="stable")] = np.arange(len(keys))
        return r

    okeys = tables["orders"]["o_orderkey"].to_numpy()
    order = np.argsort(okeys)
    ranks = {"orders": rank(okeys), "documents": rank(tables["documents"]["doc_id"].to_numpy())}
    li = np.searchsorted(okeys[order], tables["lineitem"]["l_orderkey"].to_numpy())
    ranks["lineitem"] = ranks["orders"][order][li]
    sizes = {"orders": len(okeys), "lineitem": len(okeys),
             "documents": tables["documents"].num_rows}

    def bounds(t, k):
        """Rank range of slice k of table t (k = -1: the base)."""
        n = sizes[t]
        base = round(n * (1 - INGEST_DELTA_SHARE))
        if k < 0:
            return 0, base
        return base + (n - base) * k // INGEST_SLICES, base + (n - base) * (k + 1) // INGEST_SLICES

    def write(part, k):
        n = 0
        for t in tables:
            lo, hi = bounds(t, k)
            d = os.path.join(out, part, f"{t}.parquet")
            os.makedirs(d)
            sub = tables[t].filter((ranks[t] >= lo) & (ranks[t] < hi))
            pq.write_table(sub, os.path.join(d, "part-0.parquet"))
            n += sub.num_rows
        return n

    write("base", -1)
    rows = [write(f"slice_{k}", k) for k in range(INGEST_SLICES)]
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump({"seed": seed, "delta_share": INGEST_DELTA_SHARE, "slice_rows": rows}, f)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def steal_s():
    """CPU time stolen from this machine by its host so far (s)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def harness(cp, args, run_dir, cores, heap_mb, deadline):
    """Run the JVM harness in `run_dir`; return its result document."""
    local = os.path.join(run_dir, "local")
    os.makedirs(local)
    out = os.path.join(run_dir, "result.json")
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += [f"-Xmx{heap_mb}m", f"-Xms{heap_mb}m", "-XX:ReservedCodeCacheSize=512m",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.perfbench.Main", "--mode", "run",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", args.data, "--pins", args.pins,
            "--out", out]
    if args.workload.startswith("ingest"):
        stage = os.path.join(run_dir, "stage")
        stage_ingest(args.data, stage, args.seed)
        cmd += ["--stage", stage]
    # set-up time starts here: JVM start, session, store builds, warm-up
    cmd += ["--t0", str(int(time.time() * 1000))]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local, SPARK_GRAFT_CPUS=str(cores))
    log_path = os.path.join(run_dir, "harness.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=log,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = None
    if rc != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        fail("harness " + ("timed out" if rc is None else f"failed (rc={rc})"))
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=DATA, help="corpus directory")
    ap.add_argument("--pins", default=PINS, help="expected (rows, checksum) per query")
    args = ap.parse_args()
    start = time.time()
    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("no graft sources beside perfbench/: run from the root of a graft checkout")
    for p in (bench_json, args.data, args.pins):
        if not os.path.exists(p):
            fail(f"missing {p}")
    spec = json.load(open(bench_json))
    args.data, args.pins = os.path.abspath(args.data), os.path.abspath(args.pins)

    built = time.time()
    cp, digest = build()
    start += time.time() - built  # a build may take the first run past the usual limit
    cores = len(os.sched_getaffinity(0))
    heap_mb = min(8192, max(2048, 1024 * cores))
    calib_s = calibrate(args.data)
    run_dir = os.path.join(HERE, ".run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    steal0 = steal_s()
    try:
        doc = harness(cp, args, run_dir, cores, heap_mb,
                      deadline=max(time.time() + 60, start + RUN_LIMIT_S))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    doc["env"].update(git_commit=git_commit(), source_digest=digest, heap_mb_set=heap_mb,
                      calib_s=calib_s, steal_s=steal_s() - steal0, seconds=args.seconds,
                      data=os.path.relpath(args.data, ROOT))
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(doc, f)

    e2e = doc["end_to_end"]
    env = doc["env"]
    print(f"[perfbench] {args.workload} seed={args.seed} trace={args.trace} "
          f"commit={env['git_commit'] or 'n/a'} src={digest} nproc={env['nproc']} "
          f"cores={env['cores']} heap_mb={env['heap_mb']} jdk={env['jdk']} "
          f"spark={env['spark']} corpus_bytes={env['corpus_bytes']} calib_s={calib_s:.4f} "
          f"steal_s={env['steal_s']:.2f}")
    for k, v in e2e.items():
        print(f"[perfbench] {k} = {v['value']} {v['unit']}")
    for k, v in sorted(doc["per_layer"].items()):
        print(f"[perfbench] {k} = {v}")
    for e in doc["errors"]:
        print(f"[perfbench] error: {e}")

    if args.trace:
        wanted = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {k: {"value": doc["per_layer"][k], "unit": u} for k, u in wanted.items()}
    else:
        wanted = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        metrics = {k: {"value": e2e[k]["value"], "unit": u} for k, u in wanted.items()}
    print(json.dumps({"correct": bool(doc["correct"]), "attempted": int(doc["attempted"]),
                      "failed": int(doc["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
