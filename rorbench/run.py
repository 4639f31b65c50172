#!/usr/bin/env python3
"""Benchmark of the repository's program: builds it from source, generates
seeded inputs, runs one workload in one JVM, checks every output and prints
one JSON line of metrics.

    python3 rorbench/run.py --workload ror_weekly --seed 1 --seconds 20 --trace 0

Workloads (see NOTES.md for why each was chosen):

* ``ror_weekly``: consecutive weekly ``RorPipeline.run`` refreshes over a
  seeded ROR-shaped dump that grows each week;
* ``query_mix``: four short queries from ``SparkEntry.queries``, twice per
  pass, plus an iterative-loop query and an index query once per pass, in a
  seeded shuffled order.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` registers a
listener that attributes every Spark job to a program layer and prints the
per-layer metrics. The last stdout line is the result object; the line
before it is a diagnostic object (sample counts, quartiles, box-speed
anchor), which is never gated.
"""
import argparse
import datetime
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.join(ROOT, "scripts"))  # the repository's oracle gate

import gen_ror  # noqa: E402
import gen_tables  # noqa: E402

BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JVM_HEAP = "3g"

# Weekly refresh: registry size at week 1, records added per week, refreshes
# made before the measured phase (same scale as the measured ones), and the
# nominal cost of one warm refresh, which turns --seconds into a count. The
# size is the largest at which one run stays near a minute on a 4-core box
# (NOTES.md lists the times measured at 6k, 20k and 40k orgs).
ROR = {"base": 20000, "growth": 100, "warm": 1, "nominal_s": 9.0, "min_measured": 2}

# Query mix: harness-table scale and queries. Short queries exercise
# queries/functions/plans with fixed per-query cost dominating; they run
# ``repeat`` times per pass, and once more in a warm-up pass after the check
# pass, because their JIT warm-up takes several executions. SSSP runs
# PinnedLoop rounds over an AssumeHashClustered distance relation
# (operators, plans) and the Hamming index probe writes and probes a
# persisted index (index sources, operators); they run once per pass. ``nominal_s`` is the cost of one warm
# pass, which turns --seconds into a pass count.
QUERIES = {
    "sf": 0.01,
    "short": ["q01_uniqueness_gate", "q07_scalar_funcs", "q103_bitmap_distinct",
              "q149_expectation_suite"],
    "repeat": 2,
    "heavy": ["q199_sssp", "q331_hamming_index_probe"],
    "nominal_s": 10.0, "min_measured": 2,
}

WORKLOADS = ["ror_weekly", "query_mix"]

_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
          "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
          "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"rorbench: {msg}", file=sys.stderr)
    sys.exit(2)


# --------------------------------------------------------------------------- build

def _build_inputs():
    """Files whose content decides the build: the program and the harness."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compile and package the program and the harness with sbt (offline);
    returns the classpath. Reuses the last build while its inputs are
    unchanged."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or not os.path.isdir(os.path.join(ROOT, "src")):
        fail("no program sources next to the benchmark (expected build.sbt and src/)")
    digest = hashlib.sha256()
    for f in _build_inputs():
        if not os.path.isfile(f):
            fail(f"missing build input {os.path.relpath(f, ROOT)}")
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    digest = digest.hexdigest()
    stamp = os.path.join(WORK, "build.json")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            prev = json.load(fh)
        if prev.get("digest") == digest and all(os.path.exists(p) for p in prev["classpath"].split(os.pathsep)):
            return prev["classpath"]
    if shutil.which("sbt") is None:
        fail("sbt not found")
    os.makedirs(os.path.join(WORK, "sbt-tmp"), exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'sbt-tmp')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    # JAVA_TOOL_OPTIONS reaches every JVM the sbt launcher starts
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts),
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspathAsJars"],
                           cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=out,
                           text=True, timeout=BUILD_TIMEOUT_S)
        out.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if "rorbench-harness" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed (sbt exit {p.returncode}); see {os.path.relpath(log, ROOT)}")
    classpath = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath}, fh)
    return classpath


# --------------------------------------------------------------------------- inputs

def ror_phases(warm, measured, trace):
    """Phase of each refresh: warm-up, then measured. A traced run measures
    at least four and traces the middle two of each four (ABBA), so that
    the tracing overhead is not confounded with the warm-up trend."""
    if not trace:
        return ["warm"] * warm + ["measure"] * measured
    measured = max(measured, 4)
    return ["warm"] * warm + [("trace" if i % 4 in (1, 2) else "measure") for i in range(measured)]


def plan_ror(run_dir, seed, seconds, trace):
    """Dumps for every week, the op plan, and per-week truth."""
    kinds = ror_phases(ROR["warm"], max(ROR["min_measured"], round(seconds / ROR["nominal_s"])), trace)
    weeks = len(kinds)
    reg = gen_ror.Registry(seed, ROR["base"] + (weeks - 1) * ROR["growth"])
    first = datetime.date(2024, 1, 1) + datetime.timedelta(days=7 * (seed % 50))
    os.makedirs(os.path.join(run_dir, "dumps"))
    lines, weekly = [("warehouse", os.path.join(run_dir, "warehouse"))], []
    for w in range(weeks):
        n = ROR["base"] + w * ROR["growth"]
        path = os.path.join(run_dir, "dumps", f"ror_week{w + 1:02d}.json")
        size = reg.write_dump(n, path)
        date = (first + datetime.timedelta(days=7 * w)).isoformat()
        lines.append((kinds[w], w, "refresh", path, date))
        up, capped = gen_ror.truth(reg.parents(n))
        weekly.append({"n": n, "date": date, "bytes": size, "up": up, "capped": capped})
    return lines, weekly


def plan_queries(run_dir, seed, seconds, trace):
    """Tables, then the op plan: one check pass (``graft.Verify`` writes each
    query's rows for the oracle; it is also the first warm-up), a warm-up
    pass of the short queries, then the measured passes, each in a seeded
    shuffled order. A traced run traces each query in every other pass, so
    traced and untraced ops cover the same queries."""
    names = QUERIES["short"] + QUERIES["heavy"]
    passes = max(QUERIES["min_measured"], round(seconds / QUERIES["nominal_s"]))
    data = os.path.join(run_dir, "tables")
    input_bytes = gen_tables.generate(data, QUERIES["sf"], seed)
    results = os.path.join(run_dir, "results")
    lines = [("dir", data), ("check", 0, "verify", results, ",".join(sorted(names)))]
    rng = random.Random(seed)
    order = QUERIES["short"][:]
    rng.shuffle(order)
    lines += [("warm", 1, "query", q) for q in order]
    order = QUERIES["short"] * QUERIES["repeat"] + QUERIES["heavy"]
    for p in range(2, passes + 2):
        rng.shuffle(order)
        lines += [("trace" if trace and (names.index(q) + p) % 2 else "measure", p, "query", q) for q in order]
    return lines, data, results, input_bytes


# --------------------------------------------------------------------------- run

def run_jvm(classpath, run_dir, lines, slots, deadline):
    """Run the harness JVM on a plan; returns its result, failing the
    benchmark if the JVM fails or is still running at ``deadline``."""
    plan = os.path.join(run_dir, "plan.tsv")
    with open(plan, "w") as fh:
        fh.write("".join("\t".join(str(x) for x in ln) + "\n" for ln in lines))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(run_dir, "result.json")
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData"]
    for pkg in _OPENS:
        cmd += ["--add-opens", f"java.base/{pkg}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", "-cp", classpath,
            "rorbench.Main", plan, result, str(slots)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    log = os.path.join(run_dir, "jvm.log")
    launched = time.time()
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env, cwd=run_dir)
        try:
            rc = proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("the JVM did not finish in time")
    if rc != 0 or not os.path.isfile(result):
        with open(log) as fh:
            tail = fh.read()[-2000:]
        fail(f"JVM exited with {rc}:\n{tail}")
    with open(result) as fh:
        res = json.load(fh)
    res["launched_ms"] = launched * 1000
    return res


# --------------------------------------------------------------------------- checks

def check_ror(res, weekly):
    """Every refresh against the generator's truth: records, gates, capped
    ids, and the dated backup (which is that week's production table)."""
    import duckdb
    con = duckdb.connect()
    refreshes = [o for o in res["ops"] if o["name"].startswith("refresh")]
    problems = {}
    for week, (op, truth) in enumerate(zip(refreshes, weekly)):
        bad = []
        if "error" in op:
            bad.append(op["error"])
        else:
            if op["rows"] != truth["n"]:
                bad.append(f"records {op['rows']} != {truth['n']}")
            gates = {g["name"]: g["passed"] for g in op["gates"]}
            want = {"unique_ids", "monotonic_count"} if week else {"unique_ids"}
            if set(gates) != want or not all(gates.values()):
                bad.append(f"gates {gates}")
            # the run report carries the count and the first 100 ids in order
            if op["capped_count"] != len(truth["capped"]) or op["capped_ids"] != truth["capped"][:100]:
                bad.append(f"capped {op['capped_count']} != {len(truth['capped'])}")
            try:
                got = dict(con.sql(f"SELECT id, ultimate_parent FROM read_parquet('{op['backup']}/*.parquet')").fetchall())
                if got != truth["up"]:
                    diff = sum(1 for k in truth["up"] if got.get(k) != truth["up"][k])
                    bad.append(f"backup ultimate_parent differs on {diff} ids")
            except Exception as e:  # unreadable backup
                bad.append(f"backup unreadable: {e}")
        if bad:
            problems[op["name"]] = bad
    if refreshes and "error" not in refreshes[-1]:
        prod = refreshes[-1]["prod"]
        got = dict(con.sql(f"SELECT id, ultimate_parent FROM read_parquet('{prod}/*.parquet')").fetchall())
        if got != weekly[len(refreshes) - 1]["up"]:
            problems.setdefault(refreshes[-1]["name"], []).append("prod differs from truth")
    return problems


def check_queries(out_dir, data, names):
    """Each query once against its DuckDB oracle, with the compare rules of
    the repository's own oracle gate (``scripts/check_oracle.py``), on the
    rows ``graft.Verify`` wrote: ``{name: (rows or None, problem or None)}``."""
    import duckdb
    import check_oracle
    con = duckdb.connect()
    for t in check_oracle.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    try:
        with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
            oracles = json.load(fh)
    except (OSError, ValueError) as e:
        return {name: (None, f"no oracle_sql.json: {e}") for name in names}

    def rows(tbl):
        cols = tbl.column_names
        return check_oracle.norm_rows(cols, [tuple(d[c] for c in cols) for d in tbl.to_pylist()])[1]

    verdict = {}
    for name in names:
        if name not in oracles:
            verdict[name] = (None, "no oracle SQL")
            continue
        try:
            want = con.sql(oracles[name]).fetch_arrow_table()
        except Exception as e:
            verdict[name] = (None, f"oracle error: {e}")
            continue
        try:
            got = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetch_arrow_table()
        except Exception as e:
            verdict[name] = (None, f"result unreadable: {e}")
            continue
        problem = None
        if sorted(want.column_names) != sorted(got.column_names):
            problem = f"columns oracle={sorted(want.column_names)} program={sorted(got.column_names)}"
        elif check_oracle.schema_diff(want.schema, got.schema):
            problem = f"types (column, oracle, program): {check_oracle.schema_diff(want.schema, got.schema)}"
        elif rows(want) != rows(got):
            problem = f"rows differ (oracle {want.num_rows}, program {got.num_rows})"
        verdict[name] = (got.num_rows, problem)
    return verdict


# --------------------------------------------------------------------------- metrics

def quartiles(xs):
    return statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3


def end_to_end(res, measured, input_bytes, stored_bytes, one_pass):
    """End-to-end metrics over the measured ops; ``one_pass``: all measured
    ops form one pass (the measured weeks of the weekly refresh)."""
    lat = [o["wall_s"] for o in measured]
    passes = {}
    for o in measured:
        key = 0 if one_pass else o["pass"]
        passes[key] = passes.get(key, 0.0) + o["wall_s"]
    return {
        "setup_s": (res["ready_ms"] - res["launched_ms"]) / 1000.0,
        "op_p50_s": statistics.median(lat),
        "pass_s": statistics.median(passes.values()),
        "heap_live_mb": max(o.get("live_heap_bytes", 0) for o in measured) / 2 ** 20,
        "stored_bytes_per_input_byte": stored_bytes / input_bytes,
    }, {"ops": len(lat), "passes": len(passes), "op_quartiles_s": quartiles(lat),
        "pass_values_s": sorted(passes.values()),
        # the largest heap right after any collection inside a measured op:
        # diagnostic only, it moves with when the collector runs
        "heap_after_gc_peak_mb": max(o["gc_peak_bytes"] for o in measured) / 2 ** 20}


PER_LAYER = [
    "spark.jobs", "spark.tasks", "spark.task_busy_ms", "spark.slot_busy_share",
    "spark.shuffle_bytes", "spark.spill_bytes", "spark.gc_ms", "spark.tasks_failed",
    "driver.self_ms",
    "sources.jsonl.busy_ms", "sources.jsonl.tasks",
    "ops.ultimate_parent.jobs", "ops.ultimate_parent.busy_ms", "ops.enrich.busy_ms",
    "ops.gates.busy_ms", "pipeline.bytes_written", "pipeline.busy_ms",
    "queries.build_ms", "queries.plan_ms", "queries.exec_ms", "queries.build_jobs",
    "operators.jobs", "operators.busy_ms", "operators.shuffle_bytes",
    "sources.index.bytes_written", "sources.index.busy_ms",
    "sources.rows_read_per_result_row",
    "session.cached_relations_left", "session.conf_keys_changed",
    "trace.unattributed_share", "trace.overhead_share",
]


def _union_ms(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def per_layer(traced, slots, untraced_p50):
    """Per-op means over the traced ops of the listener counters and spans."""
    acc = dict.fromkeys(PER_LAYER, 0.0)
    jobs_total = unattributed = tasks_total = tasks_failed = rows_out = rows_read = 0
    for o in traced:
        jobs = o["jobs"]
        wall_ms = o["wall_s"] * 1000.0
        busy = sum(j["busy_ms"] for j in jobs)
        acc["spark.jobs"] += len(jobs)
        acc["spark.tasks"] += sum(j["tasks"] for j in jobs)
        acc["spark.task_busy_ms"] += busy
        acc["spark.slot_busy_share"] += busy / (wall_ms * slots)
        acc["spark.shuffle_bytes"] += sum(j["shuffle_bytes"] for j in jobs)
        acc["spark.spill_bytes"] += sum(j["spill_bytes"] for j in jobs)
        acc["spark.gc_ms"] += o["gc_ms"]
        acc["driver.self_ms"] += wall_ms - _union_ms([(j["start_ms"], max(j["end_ms"], j["start_ms"])) for j in jobs])
        for j in jobs:
            acc_key = f"{j['layer']}.jobs"
            if acc_key in acc:
                acc[acc_key] += 1
            for field in ("tasks", "busy_ms", "bytes_written", "shuffle_bytes"):
                key = f"{j['layer']}.{field}"
                if key in acc:
                    acc[key] += j[field]
            unattributed += j["layer"] == "unattributed"
            rows_read += j["records_read"]
            tasks_total += j["tasks"]
            tasks_failed += j["failed"]
        jobs_total += len(jobs)
        rows_out += o["rows"]
        if "build_s" in o:
            acc["queries.build_ms"] += o["build_s"] * 1000.0
            acc["queries.plan_ms"] += o["plan_s"] * 1000.0
            acc["queries.exec_ms"] += o["exec_s"] * 1000.0
            build_end = o["t0_ms"] + o["build_s"] * 1000.0
            acc["queries.build_jobs"] += sum(1 for j in jobs if j["start_ms"] <= build_end)
        acc["session.cached_relations_left"] += o["cached_left"]
        acc["session.conf_keys_changed"] += o["conf_changed"]
    out = {k: v / len(traced) for k, v in acc.items()}
    out["spark.tasks_failed"] = tasks_failed / tasks_total if tasks_total else 0.0
    out["sources.rows_read_per_result_row"] = rows_read / rows_out if rows_out else 0.0
    out["trace.unattributed_share"] = unattributed / jobs_total if jobs_total else 0.0
    out["trace.overhead_share"] = statistics.median(o["wall_s"] for o in traced) / untraced_p50 - 1.0
    return out


UNITS = {"setup_s": "s", "op_p50_s": "s", "pass_s": "s", "heap_live_mb": "MB",
         "stored_bytes_per_input_byte": "ratio"}


def per_layer_unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("_share") or name.endswith("tasks_failed") or name.endswith("_per_result_row"):
        return "ratio"
    return "count"


def cpu_ticks():
    """``(steal, total)`` CPU ticks of the whole machine: the share the
    hypervisor gave to other guests during a run is a host-drift diagnostic."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def anchor_ms():
    """Fixed CPU-only box-speed anchor (median of 5): never gated, never
    used to normalise; it tells host drift apart from the program."""
    times = []
    for _ in range(5):
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc * 31 + i) % 1_000_003
        times.append((time.perf_counter() - t) * 1000.0)
    return statistics.median(times)


# --------------------------------------------------------------------------- main


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    os.makedirs(WORK, exist_ok=True)
    classpath = build()
    started = time.time()
    ticks0 = cpu_ticks()
    box = anchor_ms()
    slots = max(1, min(4, len(os.sched_getaffinity(0))))
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if args.workload == "ror_weekly":
            lines, weekly = plan_ror(run_dir, args.seed, args.seconds, args.trace)
            input_bytes = sum(w["bytes"] for w in weekly)
        else:
            lines, data, results, input_bytes = plan_queries(run_dir, args.seed, args.seconds, args.trace)
        generated = time.time()
        res = run_jvm(classpath, run_dir, lines, slots, started + RUN_TIMEOUT_S)
        ran = time.time()
        timed = [o for o in res["ops"] if o["phase"] != "check"]
        bad = set()
        if args.workload == "ror_weekly":
            problems = check_ror(res, weekly)
            bad = {i for i, o in enumerate(timed) if o["name"] in problems}
        else:
            verdict = check_queries(results, data, QUERIES["short"] + QUERIES["heavy"])
            problems = {name: [problem] for name, (_, problem) in verdict.items() if problem}
            for i, o in enumerate(timed):
                if "error" in o:
                    problems.setdefault(o["name"], []).append(o["error"])
                    bad.add(i)
                elif o["name"] in problems:
                    bad.add(i)
                elif o["rows"] != verdict[o["name"]][0]:
                    problems.setdefault(o["name"], []).append(f"pass {o['pass']}: {o['rows']} rows")
                    bad.add(i)
        ok = [o for i, o in enumerate(timed) if i not in bad]
        measured = [o for o in ok if o["phase"] == "measure"]
        if not measured:
            fail(f"no measured op succeeded: {json.dumps(problems)[:2000]}")
        e2e, diag = end_to_end(res, measured, input_bytes, res["kept_bytes"], args.workload == "ror_weekly")
        if args.trace:
            traced = [o for o in ok if o["phase"] == "trace"]
            if not traced:
                fail(f"no traced op succeeded: {json.dumps(problems)[:2000]}")
            values = per_layer(traced, slots, e2e["op_p50_s"])
            metrics = {k: {"value": values[k], "unit": per_layer_unit(k)} for k in PER_LAYER}
            diag["layers"] = sorted({j["layer"] for o in traced for j in o["jobs"]})
            # how each traced job got its layer: sql (execution call site),
            # stage (result-stage call site) or none (unattributed)
            diag["attributed_by"] = dict(Counter(j["how"] for o in traced for j in o["jobs"]))
        else:
            metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
        diag["op_s"] = [[o["phase"], o["pass"], o["name"], round(o["wall_s"], 4)] for o in res["ops"]]
        diag["phase_s"] = {"inputs": generated - started, "jvm": ran - generated, "checks": time.time() - ran}
        ticks1 = cpu_ticks()
        diag["cpu_steal_share"] = (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1)
        diag.update({"workload": args.workload, "seed": args.seed, "slots": slots,
                     "session_s": (res["session_ms"] - res["launched_ms"]) / 1000.0,
                     "box_anchor_ms": box, "problems": problems, "input_bytes": input_bytes,
                     "kept_bytes": res["kept_bytes"]})
        print(json.dumps({"diagnostics": diag}))
        print(json.dumps({"correct": not problems, "attempted": len(timed), "failed": len(bad),
                          "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
