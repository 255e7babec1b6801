#!/usr/bin/env python3
"""Warehouse benchmark: feed-to-report day latency and analyst reads.

Usage, from the repository root:

    python3 perfbench/run.py --workload fixture_days --seed 1 --seconds 23 --trace 0

It builds the engine and the benchmark from this checkout's sources (first
run only: sbt), generates the workload's feed from the seed, runs the JVM
side (perfbench/src, perfbench.Main) over a fixed amount of work (--seconds
is recorded, not used, so the work does not change with speed), checks every
output against the DuckDB port in tools/replay_duckdb.py, and prints one
JSON line last: the end-to-end metrics with --trace 0, the per-layer ones
with --trace 1. perfbench/README.md describes the workloads and metrics.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

import duckdb

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import feed  # noqa: E402
import oracle  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURES = os.path.join(ROOT, "src", "test", "resources", "fixtures")
LAUNCH = os.path.join(HERE, "target", "launch")
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)

# days per lake, replicas of a reference day (about 830 rows each; None =
# the fixture days themselves), the first timed day, a warm-up before
# timing, and the mart families a run's family is drawn from by the seed
WORKLOADS = {
    "fixture_days": dict(days=4, replicas=None, timed_from=1, warmup=1,
                         families=("scd2", "scd1")),
    "volume_days": dict(days=3, replicas=20, timed_from=2, warmup=0,
                        families=("scd2",)),
}
READ_OPS = ["report_by_day", "client_history", "card_day_txns", "dim_as_of",
            "mart_staging"]
# rounds of all five read ops after the last day, on the same lake
READ_ROUNDS = 3
DIMS = ["dim_terminals_hist", "dim_cards_hist", "dim_accounts_hist",
        "dim_clients_hist", "dim_terminals", "dim_cards", "dim_accounts",
        "dim_clients"]
TABLES = ["denormalized", "fact_transactions", "report"] + DIMS
FEED_REPEATS = 2
JVM_TIMEOUT_S = 150


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def nproc():
    return len(os.sched_getaffinity(0))


def driver_mem():
    """SPARK_DRIVER_MEM as the repository's test command sizes it."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def source_id():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".properties", ".sbt")):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(env):
    """sbt compiles the engine and the benchmark; skipped when unchanged."""
    stamp = f"{source_id()} {env['SPARK_DRIVER_MEM']}"
    stamp_file = os.path.join(LAUNCH, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return stamp.split()[0]
    log("[perfbench] building with sbt ...")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=850)
    if r.returncode != 0:
        raise SystemExit("sbt build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return stamp.split()[0]


def sbt_env():
    env = dict(os.environ)
    env["SPARK_DRIVER_MEM"] = driver_mem()
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx4g")
    return env


def file_digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def make_feed(workload, seed, work):
    """The day files, each generated FEED_REPEATS times into separate
    directories; returns (paths, generation seconds, identical?)."""
    spec = WORKLOADS[workload]
    if spec["replicas"] is None:
        return [f"{FIXTURES}/day{d}.parquet" for d in range(1, 5)], [0.0], True
    times, digests = [], set()
    for i in range(FEED_REPEATS):
        out = os.path.join(work, f"feed{i}")
        os.makedirs(out)
        t = time.time()
        paths = feed.generate(FIXTURES, out, seed, spec["days"], spec["replicas"])
        times.append(time.time() - t)
        digests.add(tuple(file_digest(p) for p in paths))
    return paths, times, len(digests) == 1


def write_feed_tsv(paths, work):
    con = duckdb.connect()
    rows = []
    for p in paths:
        n = con.execute(f"""SELECT count(*) FROM read_parquet('{p}')
            WHERE CAST(trans_date AS DATE) =
              (SELECT max(CAST(trans_date AS DATE)) FROM read_parquet('{p}'))""").fetchone()[0]
        rows.append(f"{p}\t{n}\t{os.path.getsize(p)}")
    with open(os.path.join(work, "feed.tsv"), "w") as f:
        f.write("\n".join(rows) + "\n")


def make_ops(workload, seed, paths):
    """The analyst mix: rounds of all five ops in a fixed order, with the
    client and card drawn from the feed by the seed. The as-of read asks
    for the day before the last, so every seed reads the same history."""
    rng = random.Random(f"ops:{workload}:{seed}")
    con = duckdb.connect()
    days = len(paths)
    pool = 2

    def last_day_rows(i):
        return con.execute(f"""SELECT client, card_num, CAST(trans_date AS DATE)::VARCHAR
            FROM read_parquet('{paths[i]}') WHERE CAST(trans_date AS DATE) =
              (SELECT max(CAST(trans_date AS DATE)) FROM read_parquet('{paths[i]}'))
            ORDER BY trans_id""").fetchall()

    picks = [rng.choice(last_day_rows(rng.randrange(days))) for _ in range(pool)]
    args = {
        "report_by_day": [("", "")],
        "client_history": [(c, "") for c, _, _ in picks],
        "card_day_txns": [(card, d) for _, card, d in picks],
        "dim_as_of": [("dim_clients_hist", str(days - 1))],
        "mart_staging": [("", "")],
    }
    return [(op, *rng.choice(args[op])) for op in READ_OPS * READ_ROUNDS]


def family(workload, seed):
    """The mart family of a run: even seeds take the first of the
    workload's families, odd seeds the next, so a set of seeds times and
    checks each."""
    fams = WORKLOADS[workload]["families"]
    return fams[seed % len(fams)]


def tail(values):
    """The highest of p50/p75/p90/p95/p99 with at least ten samples above
    it; with fewer than 20 samples, the largest one (p100)."""
    s = sorted(values)
    n = len(s)
    for p in (99, 95, 90, 75, 50):
        k = math.ceil(p / 100 * n)
        if n - k >= 10:
            return s[k - 1], p
    return s[-1], 100


def verify(res, ops, feed_dir):
    """Failure lines; empty when every output matches."""
    bad = [c["name"] + ": " + c["detail"] for c in res["checks"] if not c["ok"]]
    port = oracle.load_port(ROOT, feed_dir)
    lake = res.get("lake")
    if lake:
        fam, days = lake["family"], lake["days"]
        snaps = {}
        for op, a1, a2 in ops[:len(res["reads"])]:
            if op == "dim_as_of":
                snaps.setdefault(int(a2), set()).add(a1)
        con = oracle.replay(port, fam, days, snaps)
        bad += [f"{fam} {b}" for b in oracle.check_lake(con, lake["dir"], TABLES)]
        if lake["staging_rows"] >= 0 and lake["staging_rows"] != oracle.staging_rows(con):
            bad.append(f"{fam} mart_staging: {lake['staging_rows']} rows, port "
                       f"{oracle.staging_rows(con)}")
        for r in res["read_results"]:
            if r["key"].startswith(fam + "/") and "/mart_staging" not in r["key"]:
                b = oracle.check_read(con, r["key"], r["dir"])
                if b:
                    bad.append(b)
        con.close()
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for need in ("build.sbt", "src/main/scala", "tools/replay_duckdb.py",
                 "src/test/resources/fixtures/day4.parquet"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"perfbench: {need} not found; run from a full checkout")

    env = sbt_env()
    src = build(env)
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        result = run(a, env, src, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


def run(a, env, src, work):
    spec = WORKLOADS[a.workload]
    t_setup = time.time()
    paths, gen_times, same = make_feed(a.workload, a.seed, work)
    write_feed_tsv(paths, work)
    ops = make_ops(a.workload, a.seed, paths)
    with open(os.path.join(work, "ops.tsv"), "w") as f:
        f.write("\n".join("\t".join(o) for o in ops) + "\n")
    spans_dir = os.path.join(HERE, ".out")
    os.makedirs(spans_dir, exist_ok=True)
    spans = os.path.join(spans_dir, f"spans-{a.workload}-{a.seed}.jsonl")

    with open(os.path.join(LAUNCH, "java_options.txt")) as f:
        jopts = [l.rstrip("\n") for l in f if l.strip()]
    with open(os.path.join(LAUNCH, "classpath.txt")) as f:
        cp = ":".join(l.strip() for l in f if l.strip())
    jenv = dict(env, SPARK_GRAFT_CPUS=str(nproc()),
                SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    out = os.path.join(work, "out.json")
    cmd = (["java", *jopts, f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Main"]
           + [f"{k}={v}" for k, v in dict(
               workload=a.workload, feed=f"{work}/feed.tsv", ops=f"{work}/ops.tsv",
               fixtures=FIXTURES, work=work, out=out, spans=spans,
               trace=a.trace, warmup=spec["warmup"], timed_from=spec["timed_from"],
               family=family(a.workload, a.seed)).items()])
    t_jvm = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=jenv, stdout=logf, stderr=logf)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
            log(f"[perfbench] feed {t_jvm - t_setup:.1f}s, jvm {time.time() - t_jvm:.1f}s")
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    shutil.copy(os.path.join(work, "jvm.log"), os.path.join(spans_dir, f"jvm-{a.workload}-{a.seed}.log"))
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-4000:])
        raise SystemExit(f"perfbench: JVM exited with {rc}")
    with open(out) as f:
        res = json.load(f)
    # set-up up to the first timed op, counting the feed generation once,
    # at the median of its repeats
    gen_s = statistics.median(gen_times)
    setup_s = res["setup_done_ms"] / 1000.0 - t_setup - (sum(gen_times) - gen_s)

    if res["error"]:
        raise SystemExit(f"perfbench: the run failed: {res['error']}")
    bad = [] if same else ["feed: the same seed gave different files"]
    t = time.time()
    bad += verify(res, ops, os.path.dirname(paths[0]))
    log(f"[perfbench] verify {time.time() - t:.1f}s")
    for b in bad:
        log("[perfbench] FAIL", b)

    days = [d["secs"] for d in res["days"]]
    reads = res["reads"]
    day_tail, day_p = tail(days)
    read_tail, read_p = tail(reads)
    rounds = [statistics.mean(reads[i:i + len(READ_OPS)])
              for i in range(0, len(reads), len(READ_OPS))]
    meta = dict(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
                family=family(a.workload, a.seed),
                nproc=nproc(), default_parallelism=res["default_parallelism"],
                driver_heap_mb=res["max_heap_mb"], spark_driver_mem=env["SPARK_DRIVER_MEM"],
                source=src, commit=git_commit(), day_samples=len(days),
                day_tail_percentile=day_p, read_samples=len(reads),
                read_tail_percentile=read_p, feed_gen_s=gen_s,
                rows_per_day=statistics.median(d["rows"] for d in res["days"]),
                failures=bad, spans=spans if a.trace else None)
    if a.trace:
        metrics = dict(res["layers"])
        metrics["trace.day_p50_s"] = statistics.median(days)
        metrics["trace.read_p50_s"] = statistics.median(rounds)
    else:
        metrics = {
            "setup_s": setup_s,
            "day_p50_s": statistics.median(days),
            "day_tail_s": day_tail,
            "txn_per_s": sum(d["rows"] for d in res["days"]) / sum(days),
            "read_p50_s": statistics.median(rounds),
            "read_tail_s": read_tail,
            "reads_per_s": len(reads) / sum(reads),
            "stored_bytes_per_input_byte": res["stored_bytes"] / res["input_bytes"],
            "live_heap_mb": res["live_heap_mb"],
        }
    print(json.dumps({"run": meta}))
    declared = BENCH["per_layer" if a.trace else "end_to_end"]
    return {"correct": not bad, "attempted": res["attempted"], "failed": res["failed"],
            "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                        for m in declared}}


def git_commit():
    """HEAD of the checkout, or None when it is not a git work tree itself."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10).stdout.split()
    except OSError:
        return None
    same = len(out) == 2 and os.path.realpath(out[0]) == os.path.realpath(ROOT)
    return out[1] if same else None


if __name__ == "__main__":
    main()
