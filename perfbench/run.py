#!/usr/bin/env python3
"""graft benchmark: one run of one workload, in a fresh JVM.

Usage (from the repository root):
    python3 perfbench/run.py --workload <etl_bulk|key_mix>
        --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds graft and the harness with sbt (offline);
later runs reuse the build while the sources are unchanged. The harness
(`graftbench.Main`) writes a JSON artifact; this script checks the outputs,
turns the artifact into metrics, keeps it under `perfbench/results/`, and
prints one JSON line as the last line of standard output:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see README.md).
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
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("etl_bulk", "key_mix")
SCALE = "0.01"  # the scale-factor directory of TESTDATA.md the runs read
CORES = os.cpu_count() or 4
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# The key mix: SparkEntry keys drained to the noop sink, in two groups.
# Batch keys: job-bound (table_integrity runs 40 Spark jobs), task-bound
# (etl_webhook_json runs the business rules on the cached invoice view;
# q1_agg) and small (orc_roundtrip writes beside its read). Streaming twins
# near the per-query drain floor, each keeping state (a dropDuplicates, an
# incremental aggregate, a cohort aggregate).
KEY_MIX = ["table_integrity", "etl_webhook_json", "q1_agg", "orc_roundtrip",
           "stream_dedup", "stream_mv", "stream_retention"]
OP_NAMES = ["etl_bulk"] + KEY_MIX

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

E2E = [  # name, unit
    ("setup_s", "s"), ("wall_s", "s"), ("op_p50_s", "s"),
    ("op_geomean_s", "s"), ("rows_per_s", "1/s"), ("cpu_s", "s"),
    ("heap_retained_mb", "MiB"), ("ok_ratio", "ratio"),
]

LAYER = [  # name, unit
    ("setup.session_s", "s"), ("setup.stage_s", "s"), ("setup.warmup_s", "s"),
    ("sources.csv_read_s", "s"), ("sources.jsonl_write_s", "s"),
    ("sources.jsonl_bytes", "bytes"),
    ("etl.rules_s", "s"), ("etl.receipts_s", "s"), ("etl.payloads_s", "s"),
    ("etl.invoices", "count"),
    ("operators.eager_actions", "count"), ("operators.driver_gap_s", "s"),
    ("streaming.batches", "count"), ("streaming.trigger_s", "s"),
    ("streaming.add_batch_s", "s"), ("streaming.query_planning_s", "s"),
    ("streaming.wal_commit_s", "s"), ("streaming.outside_batches_s", "s"),
    ("streaming.state_rows", "count"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_s", "s"), ("spark.task_cpu_s", "s"),
    ("spark.core_busy_ratio", "ratio"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.storage_peak_mb", "MiB"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"),
    ("trace.overhead_s", "s"),
] + [(f"op.{k}.{m}", u) for k in OP_NAMES for m, u in (("wall_s", "s"), ("jobs", "count"))]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def data_dir():
    """The sf directory for SCALE, as listed in the repository's TESTDATA.md."""
    doc = ROOT / "TESTDATA.md"
    if not doc.is_file():
        fail(f"{doc} not found: run from the root of a graft checkout")
    for line in doc.read_text().splitlines():
        cells = [c.strip().strip("`") for c in line.split("|")]
        if len(cells) > 2 and cells[1] == SCALE:
            d = Path(cells[2])
            if (d / "lineitem.parquet").exists():
                return d
            fail(f"test data {d} (TESTDATA.md, sf {SCALE}) is missing")
    fail(f"no sf {SCALE} row in TESTDATA.md")


def source_digest():
    """Digest of every file the build reads; a change triggers a rebuild."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for base in (ROOT / "project", BENCH / "project"):
        files += sorted(p for p in base.glob("*") if p.suffix in (".sbt", ".properties", ".scala"))
    for base in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    return env


def run_bounded(cmd, cwd, env, timeout, stdout, stderr):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {timeout} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build():
    """Compile graft and the harness; return the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("no graft sources beside perfbench/: run from the root of a graft checkout")
    if shutil.which("sbt") is None:
        fail("sbt not found")
    target = BENCH / "target"
    stamp, cp_file = target / "bench-stamp.txt", target / "bench-classpath.txt"
    digest = source_digest()
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    target.mkdir(parents=True, exist_ok=True)
    log = target / "bench-build.log"
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"], BENCH, sbt_env(),
                         BUILD_TIMEOUT_S, out, subprocess.STDOUT)
    lines = log.read_text().splitlines()
    if rc != 0 or not lines:
        fail(f"build failed (rc={rc}), see {log}")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp.write_text(digest)
    return cp


def run_harness(cp, work, args, timeout=RUN_TIMEOUT_S):
    """Run graftbench.Main in a fresh JVM; return the artifact it wrote."""
    java = shutil.which("java")
    if java is None:
        fail("java not found")
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    out = work / "artifact.json"
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # A fixed, pre-touched heap keeps the collector's sizing and first-touch
    # page faults out of the timings; the stop-the-world parallel collector
    # runs no concurrent threads beside the tasks. On a 4-vCPU VM the two
    # narrowed etl_bulk's run-to-run spread.
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", cp, "graftbench.Main", "--work", str(work), "--out", str(out),
            "--cores", str(CORES)] + args
    with open(work / "jvm.log", "w") as log:
        rc = run_bounded(cmd, ROOT, dict(os.environ), timeout, log, subprocess.STDOUT)
    if rc != 0 or not out.is_file():
        tail = (work / "jvm.log").read_text().splitlines()[-20:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"harness failed (rc={rc})")
    return json.loads(out.read_text())


# ---------------------------------------------------------------- checks

def duck_with_tables(data):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("supplier", "part", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    return con


def check_etl(art, data):
    """Check each operation's webhook JSONL against DuckDB figures computed
    independently from the same CSV (and from the enriched-view SQL for
    quantities). Returns {op index: error or None} and summary figures."""
    con = duck_with_tables(data)
    csv = art["csv"]["dir"]
    con.execute(f"""CREATE TABLE csv AS SELECT trim("Invoice Number") AS id,
        "Extended Price" AS price FROM read_csv('{csv}/*.csv', header=true,
        all_varchar=true) WHERE "Invoice Number" IS NOT NULL""")
    rows, invoices = con.execute("SELECT count(*), count(DISTINCT id) FROM csv").fetchone()
    con.execute("""CREATE TABLE sub AS SELECT id, CAST(sum(CAST(coalesce(
        TRY_CAST(price AS DOUBLE), 0) AS DECIMAL(25,2))) AS DOUBLE) AS subtotal
        FROM csv GROUP BY id""")
    qty = dict(con.execute(art["enriched_sql"] +
        " SELECT category, CAST(sum(qty_calc) AS DOUBLE) FROM enr2 GROUP BY 1").fetchall())
    results, sizes = {}, []
    for i, op in enumerate(art["ops"]):
        d = Path(art["out_root"]) / f"op_{i}"
        if not op["ok"]:
            continue
        files = sorted(d.glob("*.json"))
        if not files:
            results[i] = "no JSONL written"; continue
        sizes.append(sum(f.stat().st_size for f in files))
        con.execute(f"""CREATE OR REPLACE TABLE j AS SELECT receipt_id, payload
            FROM read_json('{d}/*.json', format='newline_delimited',
            columns={{'receipt_id': 'VARCHAR', 'payload': 'VARCHAR'}})""")
        n, nd, items = con.execute("""SELECT count(*), count(DISTINCT receipt_id),
            sum(CAST(json_extract(payload, '$.itemCount') AS BIGINT)) FROM j""").fetchone()
        bad_sub = con.execute("""SELECT count(*) FROM sub FULL JOIN (SELECT receipt_id,
            CAST(json_extract(payload, '$.subtotal') AS DOUBLE) AS s FROM j) g
            ON sub.id = g.receipt_id
            WHERE g.s IS NULL OR sub.subtotal IS NULL OR abs(g.s - sub.subtotal) > 0.005""").fetchone()[0]
        got_qty = dict(con.execute("""SELECT li.category, CAST(sum(li.qty) AS DOUBLE)
            FROM (SELECT unnest(from_json(json_extract(payload, '$.lineItems'),
                 '[{"qty": "DOUBLE", "category": "VARCHAR"}]')) AS li FROM j)
            GROUP BY 1""").fetchall())
        errs = []
        if n != invoices or nd != invoices:
            errs.append(f"{n} payloads / {nd} ids for {invoices} invoices")
        if items != rows:
            errs.append(f"sum itemCount {items} != {rows} rows")
        if bad_sub:
            errs.append(f"{bad_sub} invoices with a wrong subtotal")
        if got_qty != qty:
            errs.append(f"qty per category {got_qty} != {qty}")
        results[i] = "; ".join(errs) or None
    return results, {"csv_rows": rows, "invoices": invoices,
                     "jsonl_bytes": statistics.median(sizes) if sizes else 0}


def check_keys(art):
    """Compare each key's fingerprint with the oracle-verified expectation."""
    exp_file = BENCH / "expected.json"
    expected = json.loads(exp_file.read_text())["keys"] if exp_file.is_file() else {}
    results = {}
    for k, got in art["checks"].items():
        want = expected.get(k)
        if want is None:
            results[k] = "no oracle-verified expectation"
        elif "error" in got:
            results[k] = got["error"]
        else:
            diff = [f for f in ("schema", "rows", "hash_sum", "hash_xor") if got[f] != want[f]]
            results[k] = f"differs from the expectation in {diff}" if diff else None
    return results


# --------------------------------------------------------------- metrics

def med(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(art, ops, rows_of):
    """Each key's time is its median over the passes, robust to one slow
    operation; a pass's wall is the sum of those medians."""
    ok = [o for o in ops if o["ok"]]
    by_key = {}
    for o in ok:
        by_key.setdefault(o["name"], []).append(o)
    key_med = {k: med([o["wall_s"] for o in os_]) for k, os_ in by_key.items()}
    wall = sum(key_med.values())
    rows = sum(rows_of(os_[0]) for os_ in by_key.values())
    passes = [p for p in art["passes"] if not p["traced"]]
    return {
        "setup_s": art["setup"]["setup_s"],
        "wall_s": wall,
        "op_p50_s": med(list(key_med.values())),
        "op_geomean_s": math.exp(statistics.fmean(math.log(w) for w in key_med.values())) if ok else 0.0,
        "rows_per_s": rows / wall if wall else 0.0,
        "cpu_s": med([p["cpu_s"] for p in passes]),
        "heap_retained_mb": art["heap_retained_mb"],
        "ok_ratio": len(ok) / len(ops),
    }


def per_layer(art, ops, etl_figures):
    traced = [o for o in ops if o["traced"] and o["ok"] and o["counters"]]
    passes = sorted({o["pass"] for o in traced})
    n = max(len(passes), 1)
    kids = {}
    for s in art["spans"]:
        kids.setdefault(s["parent"], {})[s["name"]] = (s["end_ms"] - s["start_ms"]) / 1e3

    def per_pass(f):
        return sum(f(o) for o in traced) / n

    c = lambda key: per_pass(lambda o: o["counters"][key])
    task_s, job_wall = c("task_s"), c("job_wall_s")
    m = {name: 0.0 for name, _ in LAYER}
    m.update({
        "setup.session_s": art["setup"]["session_s"],
        "setup.stage_s": art["setup"]["stage_s"],
        "setup.warmup_s": art["setup"]["warmup_s"],
        "operators.eager_actions": per_pass(lambda o: max(o["counters"]["sql_executions"] - 1, 0)),
        "operators.driver_gap_s": per_pass(lambda o: max(o["wall_s"] - o["counters"]["job_wall_s"], 0.0)),
        "streaming.batches": c("batches"), "streaming.trigger_s": c("trigger_s"),
        "streaming.add_batch_s": c("add_batch_s"),
        "streaming.query_planning_s": c("query_planning_s"),
        "streaming.wal_commit_s": c("wal_commit_s"),
        "streaming.outside_batches_s": per_pass(
            lambda o: o["wall_s"] - o["counters"]["trigger_s"] if o["counters"]["batches"] else 0.0),
        "streaming.state_rows": c("state_rows"),
        "spark.jobs": c("jobs"), "spark.stages": c("stages"), "spark.tasks": c("tasks"),
        "spark.task_s": task_s, "spark.task_cpu_s": c("task_cpu_s"),
        "spark.core_busy_ratio": task_s / (job_wall * art["provenance"]["cores"]) if job_wall else 0.0,
        "spark.shuffle_write_bytes": c("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": c("shuffle_read_bytes"),
        "spark.spill_bytes": c("spill_bytes"),
        "spark.storage_peak_mb": max([o["counters"]["storage_peak_bytes"] for o in traced] + [0]) / 2**20,
        "catalyst.analysis_s": c("analysis_s"),
        "catalyst.optimization_s": c("optimization_s"),
        "catalyst.planning_s": c("planning_s"),
    })
    # Recording overhead: each traced pass's wall minus the mean of the
    # untraced passes on either side (U T U), which cancels a warming trend;
    # the median over the traced passes. The listeners stay registered
    # through the untraced passes, so their event dispatch is on both sides
    # and drops out: this is the cost of recording, not of having listeners
    # attached.
    walls = {}
    for o in ops:
        if o["ok"]:
            walls[o["pass"]] = walls.get(o["pass"], 0.0) + o["wall_s"]
    m["trace.overhead_s"] = med([walls[p] - (walls[p - 1] + walls[p + 1]) / 2
                                 for p in passes if p - 1 in walls and p + 1 in walls])
    for k in OP_NAMES:
        mine = [o for o in traced if o["name"] == k]
        if mine:
            m[f"op.{k}.wall_s"] = med([o["wall_s"] for o in mine])
            m[f"op.{k}.jobs"] = med([o["counters"]["jobs"] for o in mine])
    if art["workload"] == "etl_bulk":
        # prefix drains are children of each traced operation's span
        stages = [kids.get(o["span"], {}) for o in traced]
        full = [s for s in stages if len(s) == 5]

        def diff(a, b):
            return med([s[a] - (s[b] if b else 0.0) for s in full])
        m.update({
            "sources.csv_read_s": diff("readVendorCsv", None),
            "etl.rules_s": diff("lineItems", "readVendorCsv"),
            "etl.receipts_s": diff("receipts", "lineItems"),
            "etl.payloads_s": diff("webhookPayloads", "receipts"),
            "sources.jsonl_write_s": diff("run", "webhookPayloads"),
            "sources.jsonl_bytes": etl_figures["jsonl_bytes"],
            "etl.invoices": etl_figures["invoices"],
        })
    return m


def cpu_steal_s():
    """Seconds of CPU time the hypervisor took from this machine (all CPUs),
    from /proc/stat; 0 where it is not reported."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def provenance_extra(seed):
    commit = "unknown"
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            commit = r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return {"commit": commit, "source_digest": source_digest(), "seed": seed,
            "loadavg_host": os.getloadavg()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    cp = build()
    data = data_dir()
    steal0, t0 = cpu_steal_s(), time.monotonic()
    work = BENCH / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        art = run_harness(cp, work, ["--workload", a.workload, "--seed", str(a.seed),
                                     "--keys", ",".join(KEY_MIX),
                                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                                     "--data", str(data)])
        ops = art["ops"]
        if a.workload == "etl_bulk":
            bad, etl_figures = check_etl(art, data)
            for i, o in enumerate(ops):
                if bad.get(i):
                    o["ok"], o["error"] = False, f"output check: {bad[i]}"
            rows_of = lambda o: etl_figures["csv_rows"]
        else:
            bad, etl_figures = check_keys(art), None
            for o in ops:
                if bad.get(o["name"]):
                    o["ok"], o["error"] = False, f"output check: {bad[o['name']]}"
            rows_of = lambda o: art["checks"][o["name"]].get("rows", 0)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = [o for o in ops if not o["ok"]]
    if a.trace:
        values, units = per_layer(art, ops, etl_figures), dict(LAYER)
    else:
        values, units = end_to_end(art, ops, rows_of), dict(E2E)
    metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    art["provenance"].update(provenance_extra(a.seed))
    # CPU stolen by the hypervisor during the run, per second of run time
    art["provenance"]["steal_share"] = (cpu_steal_s() - steal0) / max(time.monotonic() - t0, 1e-9)
    art["failed_ops"] = sorted({o["name"] for o in failed})
    art["failed_ratio"] = len(failed) / len(ops)
    art["check_errors"] = sorted({f"{o['name']}: {o['error']}" for o in failed})
    art["metrics"] = metrics
    results = BENCH / "results"
    results.mkdir(exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    (results / name).write_text(json.dumps(art))
    for o in failed:
        print(f"perfbench: FAILED {o['name']} (pass {o['pass']}): {o['error']}", file=sys.stderr)
    print(f"perfbench: artifact {results / name}", file=sys.stderr)
    print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": len(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
