#!/usr/bin/env python3
"""The repository benchmark: one command, run from the repository root.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the program from source on first use (sbt, offline), makes the
workload's inputs from the seed, runs `perfbench/harness` in one JVM on
`local[<cores>]`, checks every output outside the timed region, and prints
one JSON object as the last line of stdout:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones.
perfbench/METRICS.md says what each metric is and what should move it.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
# Everything after the build must end within 180 s (the build itself, on
# the first run in a checkout, has its own timeout); keep a margin.
RUN_BUDGET_S = 170

# Both workloads are closed loops: one operation at a time, the next
# starting when the previous returns. Why each exists is in BENCHMARK.json.
# "warmup" is how many untimed passes set-up runs before timing. The first
# two passes are 1.3-4.5x slower than the rest while the JIT compiles.
# After two, validate passes still fell by up to a quarter over a run;
# after three they were nearly level. On pipeline_ops a third pass costs
# about 6 s per run and did not lower the spread of run medians over ten
# seeds (0.13 with three, 0.12 and 0.14 with two), so it is not paid for.
WORKLOADS = {
    "validate": {
        # table kind -> (generator kind, rows); sized so a pass takes a few
        # seconds and a run holds several passes
        "tables": {"plain": ("plain", 200_000), "quoted": ("quoted_dirty", 40_000)},
        "warmup": 3,
    },
    "pipeline_ops": {
        "warmup": 2,
        "sets": {"ann": ["d217_pq_adc"],
                 "dedup": ["d84_minhash_recall"],
                 "stream": ["d204_tws_sessions"]},
    },
}
GATE_TABLE = {"d217_pq_adc": "embeddings", "d84_minhash_recall": "documents",
              "d204_tws_sessions": "events"}
CORPUS_ROWS = {"documents": 5000, "embeddings": 2000, "events": 100_000}
SETS = ["plain", "quoted", "ann", "dedup", "stream"]

UNITS = {"setup_s": "s", "wall_s": "s", "rows_per_s": "1/s"}
PER_LAYER = {
    "cpus": "count", "host.calib_s": "s", "trace.overhead_frac": "ratio",
    "failed_ops_frac": "ratio",
    "io.scans": "ratio", "io.bytes_read": "bytes", "io.rows_read": "count",
    "io.max_scan_tasks": "count", "io.bytes_written": "bytes",
    "io.rows_written": "count",
    **{f"io.{s}.{k}": u for s in SETS for k, u in (
        ("scans", "ratio"), ("rows_written", "count"))},
    "driver.jobs": "count", "driver.stages": "count", "driver.tasks": "count",
    "driver.max_stage_tasks": "count", "driver.busy_s": "s", "driver.sched_s": "s",
    "driver.gc_s": "s", "driver.peak_heap_mb": "MB",
    **{f"driver.{s}.{k}": u for s in SETS for k, u in (
        ("wall_s", "s"), ("jobs", "count"), ("max_stage_tasks", "count"),
        ("busy_s", "s"), ("sched_s", "s"))},
    **{f"meta.{t}.compile_ms": "ms" for t in ("plain", "quoted")},
    **{f"validate.{t}.{k}": u for t in ("plain", "quoted") for k, u in (
        ("column_names_s", "s"), ("field_count_s", "s"), ("typed_s", "s"),
        ("fallback_taken", "count"), ("rows_failed", "count"))},
    "ops.shuffle_write_bytes": "bytes", "ops.shuffle_read_bytes": "bytes",
    "ops.spill_bytes": "bytes", "ops.partition_skew": "ratio",
    "ops.ivfpq_recall_at_3": "ratio", "ops.minhash_recall": "ratio",
    "functions.shingle_minhash_s": "s", "functions.simhash_s": "s",
    "functions.l2_s": "s",
    "streaming.batches": "count", "streaming.input_rows": "count",
    "streaming.state_rows": "count", "streaming.state_commit_ms": "ms",
    "streaming.state_mem_bytes": "bytes", "streaming.batch_p50_ms": "ms",
}

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def calibrate():
    """A fixed CPU-only loop, timed before the run. Reported as
    host.calib_s to show drift in the machine's speed; never used to
    scale any metric."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc * 31 + i) % 1_000_003
    return time.perf_counter() - t


def fingerprint():
    h = hashlib.sha256()
    files = sorted(glob.glob("src/main/**/*.scala", recursive=True) +
                   glob.glob("perfbench/harness/src/**/*.scala", recursive=True) +
                   ["build.sbt", "project/build.properties",
                    "perfbench/harness/build.sbt",
                    "perfbench/harness/project/build.properties"])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile and package the program and the harness (sbt, offline)
    once per source state. Returns the classpath."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    fp = fingerprint()
    if os.path.exists(stamp) and open(stamp).read() == fp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.offline=true "
                        "-Dsbt.server.autostart=false -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                         "export harness/Runtime/fullClasspathAsJars"],
                        cwd=os.path.join(ROOT, "perfbench", "harness"), env=env,
                        stdout=out, timeout=600)
    lines = [l.strip() for l in open(log) if "perfbench-harness" in l and ".jar" in l]
    if r != 0 or not lines:
        fail(f"build failed (exit {r}); see {log}")
    cp = lines[-1].split()[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(fp)
    return cp


def jvm_cmd(cp, work):
    return ["java", "-Xms3g", "-Xmx3g", *JVM_OPENS,
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", cp, "perfbench.Harness"]


CHILDREN = []


def run_bounded(cmd, timeout, **kw):
    """Run a child in its own process group; on timeout, or when this
    process is told to stop, kill the group and wait for it, so nothing
    outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, stderr=subprocess.STDOUT, **kw)
    CHILDREN.append(p)
    try:
        return p.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        kill_children()
        return None
    finally:
        CHILDREN.remove(p)


def kill_children(signum=None, frame=None):
    for p in CHILDREN:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
    if signum is not None:  # called as a signal handler
        sys.exit(128 + signum)


def gen(*args):
    out = subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), *map(str, args)],
                         check=True, capture_output=True, text=True).stdout
    return json.loads(out)


def med(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, kill_children)
    for need in ("build.sbt", "src/main/scala/graft/Main.scala",
                 "src/main/scala/graft/SparkEntry.scala", "tools/check_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a repository checkout")

    cp = build()
    budget_end = time.monotonic() + RUN_BUDGET_S
    calib = calibrate()
    cpus = len(os.sched_getaffinity(0))
    spec = WORKLOADS[a.workload]
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    args = ["--cpus", str(cpus), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--warmup", str(spec["warmup"]),
            "--work", work, "--out", os.path.join(work, "result.json")]
    base = os.path.join(work, "data")
    corpus = os.path.join(work, "corpus")
    if a.workload == "validate":
        expect = {t: gen("validate", kind, rows, a.seed, base, t)
                  for t, (kind, rows) in spec["tables"].items()}
        input_rows = sum(rows for _, rows in spec["tables"].values())
        input_bytes = {t: e["input_bytes"] for t, e in expect.items()}
        args += ["--kind", "validate", "--base", base,
                 "--ops", ";".join(f"{t}:{t}" for t in spec["tables"])]
    else:
        gen("corpus", a.seed, corpus)
        gates = [g for s in spec["sets"].values() for g in s]
        input_rows = sum(CORPUS_ROWS[GATE_TABLE[g]] for g in gates)
        input_bytes = {s: sum(os.path.getsize(f"{corpus}/{GATE_TABLE[g]}.parquet")
                              for g in gs) for s, gs in spec["sets"].items()}
        args += ["--kind", "gates", "--corpus", corpus,
                 "--ops", ";".join(f"{s}:{','.join(g)}" for s, g in spec["sets"].items())]

    with open(os.path.join(work, "jvm.log"), "w") as log:
        r = run_bounded(jvm_cmd(cp, work) + args, budget_end - time.monotonic(),
                        stdout=log)
    if r != 0:
        fail(f"harness {'timed out' if r is None else f'exited {r}'}; "
             f"see {work}/jvm.log", 1)
    res = json.load(open(os.path.join(work, "result.json")))

    # ---------------------------------------------- correctness (untimed)
    attempted = res["attempted"]
    failed = len(res["failures"])
    for k, v in res["failures"].items():
        print(f"FAILED {k}: {v}", file=sys.stderr)
    quality = {}
    if a.workload == "validate":
        wrong = [w for t, e in expect.items()
                 for w in check_validate(t, res["validate"][t], e, base)]
    else:
        checked = [g for s in spec["sets"].values() for g in s] + res["extra"]
        wrong, quality = check_gates(res, checked, corpus, work)
    for w in wrong:
        print(f"WRONG {w}", file=sys.stderr)
    failed += len(wrong)

    if a.trace:
        metrics = per_layer(res, cpus, calib, quality, failed / attempted, input_bytes)
    else:
        metrics = end_to_end(res, input_rows)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


def check_validate(table, rep, expect, base):
    """Exit codes of every Main.run on the table, and for the last one its
    printed verdict, its per-check typed counts and the bad-row parquet
    counts, against what the generator injected."""
    import duckdb
    wrong = [f"{table}: Main.run exit {c} != {expect['exit_code']}"
             for c in rep["exit_codes"] if c != expect["exit_code"]]
    if not rep["exit_codes"]:
        wrong.append(f"{table}: no Main.run finished")
    lines = rep["last_stdout"].splitlines()
    verdict = "validation success" if expect["exit_code"] == 0 else "validation failed!"
    if verdict not in lines:
        wrong.append(f"{table}: verdict line '{verdict}' missing")
    seen = {}
    for line in lines:
        if line.startswith("typed:"):
            name, status, failed = line.split()[:3]
            n = int(failed.split("=")[1])
            if (status == "PASS") != (n == 0):
                wrong.append(f"{table} {name}: {status} with failed={n}")
            if n:
                seen[":".join(name.split(":")[1:3])] = n
    if seen != expect["typed"]:
        wrong.append(f"{table}: typed counts {seen} != injected {expect['typed']}")
    con = duckdb.connect()
    for sub, key in (("_TMP", "corrupt_rows"), ("_TMP_TYPED", "typed_bad_rows")):
        files = glob.glob(f"{base}/inputs/VALIDATION/{table}{sub}/*.parquet")
        n = con.sql(f"SELECT count(*) FROM read_parquet({files!r})").fetchone()[0] \
            if files else 0
        if n != expect[key]:
            wrong.append(f"{table}{sub} holds {n} rows, expected {expect[key]}")
    return wrong


def check_gates(res, gates, corpus, work):
    """Hash-compare each gate's last output with its DuckDB oracle, with
    the canonicalisation of tools/check_oracle.py; read the recall
    figures from the outputs that carry them."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import canon, register_views, type_defect
    con = duckdb.connect()
    register_views(con, corpus)
    wrong, quality = [], {}
    for g in gates:
        path = os.path.join(work, "out", g)
        if not glob.glob(f"{path}/*.parquet"):
            wrong.append(f"{g}: no output")
            continue
        got = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
        g_cols, g_types, g_rows = list(got.columns), [str(t) for t in got.types], got.fetchall()
        col = {c: i for i, c in enumerate(g_cols)}
        if g == "d223_ivfpq_recall":
            quality["ops.ivfpq_recall_at_3"] = (
                sum(r[col["n_hits"]] for r in g_rows) / (3 * len(g_rows)))
        if g == "d84_minhash_recall":
            quality["ops.minhash_recall"] = (
                sum(r[col["n_collided"]] for r in g_rows) /
                sum(r[col["n_pairs"]] for r in g_rows))
        exp = con.sql(res["oracles"][g])
        e_cols, e_types, e_rows = list(exp.columns), [str(t) for t in exp.types], exp.fetchall()
        spark_t = dict(zip(g_cols, g_types))
        if any(c in spark_t and type_defect(spark_t[c], t) for c, t in zip(e_cols, e_types)):
            wrong.append(f"{g}: oracle column types differ")
        elif canon(g_rows, g_cols) != canon(e_rows, e_cols):
            wrong.append(f"{g}: result differs from oracle "
                         f"({len(g_rows)} vs {len(e_rows)} rows)")
    return wrong, quality


def pass_total(p):
    return sum(p["ops_s"].values())


def complete(res):
    return [p for p in res["passes"] if len(p["ops_s"]) == len(res["ops"])]


def end_to_end(res, input_rows):
    passes = [p for p in complete(res) if not p["traced"]]
    wall = med([pass_total(p) for p in passes])
    m = {"setup_s": res["setup_s"],
         "wall_s": wall,
         "rows_per_s": input_rows / wall if wall else 0.0}
    return {k: (v, UNITS[k]) for k, v in m.items()}


def per_layer(res, cpus, calib, quality, failed_frac, input_bytes):
    """Counters of the traced passes (median over them), the probes, and
    zero for a layer or set the workload does not reach."""
    traced = [p for p in complete(res) if p["traced"]]
    plain = [p for p in complete(res) if not p["traced"]]

    def over(fn):
        return med([fn(p) for p in traced])

    def agg(ops, key, f=sum):
        return lambda p: f([p["counters"][o][key] for o in ops])

    ops = res["ops"]
    m = dict.fromkeys(PER_LAYER, 0.0)
    m["cpus"] = cpus
    m["host.calib_s"] = calib
    m["failed_ops_frac"] = failed_frac
    if traced and plain:
        m["trace.overhead_frac"] = (med([pass_total(p) for p in traced]) /
                                    med([pass_total(p) for p in plain]) - 1)
    for k in ("bytes_read", "rows_read", "bytes_written", "rows_written"):
        m[f"io.{k}"] = over(agg(ops, k))
    m["io.max_scan_tasks"] = over(agg(ops, "max_scan_tasks", max))
    m["io.scans"] = m["io.bytes_read"] / sum(input_bytes.values())
    for k in ("jobs", "stages", "tasks", "busy_s"):
        m[f"driver.{k}"] = over(agg(ops, k))
    m["driver.max_stage_tasks"] = over(agg(ops, "max_stage_tasks", max))
    m["driver.sched_s"] = over(lambda p: pass_total(p) - agg(ops, "busy_s")(p) / cpus)
    m["driver.gc_s"] = over(lambda p: p["gc_s"])
    m["driver.peak_heap_mb"] = over(lambda p: p["peak_heap_mb"])
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        m[f"ops.{k}"] = over(agg(ops, k))
    m["ops.partition_skew"] = over(agg(ops, "partition_skew", max))
    for s, gs in res["sets"].items():
        wall = over(lambda p: sum(p["ops_s"][g] for g in gs))
        busy = over(agg(gs, "busy_s"))
        m.update({f"driver.{s}.wall_s": wall, f"driver.{s}.busy_s": busy,
                  f"driver.{s}.sched_s": wall - busy / cpus,
                  f"driver.{s}.jobs": over(agg(gs, "jobs")),
                  f"driver.{s}.max_stage_tasks": over(agg(gs, "max_stage_tasks", max)),
                  f"io.{s}.scans": over(agg(gs, "bytes_read")) / input_bytes[s],
                  f"io.{s}.rows_written": over(agg(gs, "rows_written"))})
    batches = [b for p in traced for b in p["batches"]]
    if batches:
        n = len(traced)
        m["streaming.batches"] = len(batches) / n
        m["streaming.input_rows"] = sum(b["input_rows"] for b in batches) / n
        m["streaming.state_commit_ms"] = sum(b["state_commit_ms"] for b in batches) / n
        m["streaming.batch_p50_ms"] = med([b["trigger_ms"] for b in batches])
        # state held at its peak by each query, summed over the queries
        peak = {}
        for b in batches:
            q = peak.setdefault(b["query"], [0, 0])
            q[0] = max(q[0], b["state_rows"])
            q[1] = max(q[1], b["state_mem_bytes"])
        m["streaming.state_rows"] = sum(q[0] for q in peak.values()) / n
        m["streaming.state_mem_bytes"] = sum(q[1] for q in peak.values()) / n
    m.update(res.get("probes", {}))
    m.update(quality)
    return {k: (m[k], PER_LAYER[k]) for k in PER_LAYER}


if __name__ == "__main__":
    main()
