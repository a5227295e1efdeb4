#!/usr/bin/env python3
"""Seeded benchmark of the feature engine: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the benchmark (the
engine's main sources plus perfbench/src, see build.py) into .bench_build/;
later runs reuse the build while the sources are unchanged. The run drives
one Spark session on local[nproc - 1] (1 to 8 cores), checks every output,
and prints the result as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones and
writes the run's spans to .bench_build/perfbench/traces/. Workloads and
metrics are described in perfbench/README.md.

    python3 perfbench/run.py --probes

re-measures, once, the observations the workloads were designed from.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keeps the checkout free of __pycache__
import build as bench_build  # noqa: E402

WORKLOADS = ("pit_dedup", "search_lr")
RUN_LIMIT_S = 170
ROOT, BUILD, fail = bench_build.ROOT, bench_build.BUILD, bench_build.fail
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(n - 1, 8))


def duckdb_check(data, work):
    """Recomputes the pit_dedup backfill outputs with DuckDB from the same parquet
    and returns a list of mismatches (empty when every row agrees)."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {cores()}")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb_tmp')}'")

    def pq(d):
        return f"read_parquet('{os.path.join(d, '*.parquet')}')"

    turns, right = pq(os.path.join(data, "turns")), pq(os.path.join(data, "right"))
    checks = {
        "windows": (f"""
            WITH t AS (SELECT conv_id, turn_idx, role, text, tool, epoch_us(ts) AS us FROM {turns}),
            a AS (SELECT *, lag(us) OVER w AS prev_us, lag(role) OVER w AS prev_role,
                    avg(length(text)) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS roll5,
                    avg(length(text)) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_mean,
                    last_value(tool IGNORE NULLS) OVER
                      (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_tool
                  FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY us, turn_idx))
            SELECT conv_id, turn_idx, CAST(length(text) AS DOUBLE) AS text_len,
              (us - prev_us) / 1e6 AS gap_secs, prev_role, roll5, run_mean, last_tool,
              CAST(sum(CASE WHEN prev_us IS NOT NULL AND us - prev_us > 1800000000 THEN 1 ELSE 0 END)
                OVER (PARTITION BY conv_id ORDER BY us, turn_idx
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS session_id
            FROM a""",
            pq(os.path.join(work, "out_windows")),
            """e.text_len = s.text_len
               AND (e.gap_secs IS NULL AND s.gap_secs IS NULL OR abs(e.gap_secs - s.gap_secs) < 1e-6)
               AND e.prev_role IS NOT DISTINCT FROM s.prev_role
               AND abs(e.roll5 - s.roll5_mean_len) <= 1e-9 * greatest(1, abs(e.roll5))
               AND abs(e.run_mean - s.run_mean_len) <= 1e-9 * greatest(1, abs(e.run_mean))
               AND e.session_id = s.session_id
               AND e.last_tool IS NOT DISTINCT FROM s.last_tool"""),
        # a different algorithm from the engine's: DuckDB's ASOF join over
        # the right side reduced to its greatest-rseq row per (conv_id, ts)
        "asof": (f"""
            WITH r AS (SELECT conv_id, epoch_us(ts) AS us, arg_max(state_v, rseq) AS state_v,
                         arg_max(state_k, rseq) AS state_k FROM {right} GROUP BY conv_id, epoch_us(ts)),
            l AS (SELECT conv_id, turn_idx, epoch_us(ts) AS us FROM {turns})
            SELECT l.conv_id, l.turn_idx, r.state_v, r.state_k
            FROM l ASOF LEFT JOIN r ON l.conv_id = r.conv_id AND l.us >= r.us""",
            pq(os.path.join(work, "out_asof")),
            """e.state_v IS NOT DISTINCT FROM s.state_v
               AND e.state_k IS NOT DISTINCT FROM s.state_k"""),
        # a range join, where the engine uses a union + range-frame window
        "range": (f"""
            WITH r AS (SELECT conv_id, epoch_us(ts) AS us, state_v FROM {right}),
            l AS (SELECT conv_id, turn_idx, epoch_us(ts) AS us FROM {turns})
            SELECT l.conv_id, l.turn_idx, count(r.state_v) AS r_cnt, sum(r.state_v) AS r_sum,
                   max(r.state_v) AS r_max
            FROM l LEFT JOIN r ON l.conv_id = r.conv_id AND r.us BETWEEN l.us - 3600000000 AND l.us
            GROUP BY l.conv_id, l.turn_idx""",
            pq(os.path.join(work, "out_range")),
            """e.r_cnt = s.r_cnt AND e.r_sum IS NOT DISTINCT FROM s.r_sum
               AND e.r_max IS NOT DISTINCT FROM s.r_max"""),
    }
    problems = []
    for name, (expected, spark_out, same) in checks.items():
        n_e, n_s, n_ok = con.execute(f"""
            WITH e AS ({expected}), s AS (SELECT * FROM {spark_out})
            SELECT (SELECT count(*) FROM e), (SELECT count(*) FROM s),
                   (SELECT count(*) FROM e JOIN s USING (conv_id, turn_idx) WHERE {same})
            """).fetchone()
        if not n_e == n_s == n_ok:
            problems.append(f"{name}: duckdb rows {n_e}, spark rows {n_s}, agreeing {n_ok}")
    con.close()
    return problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--probes", action="store_true",
                    help="instead of a run, re-measure the observations the workloads were "
                         "designed from, at their original sizes (several minutes)")
    args = ap.parse_args()
    if not args.probes and None in (args.workload, args.seed, args.seconds, args.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    classpath = bench_build.build()
    java = bench_build.java()
    # the time limit counts from here: a first run also builds
    t_start = time.time()

    name = "probes" if args.probes else f"{args.workload}-{args.seed}"
    work = os.path.join(BUILD, f"work-{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    common = ["--cores", str(cores()), "--work", work]
    if args.probes:
        main_args, limit = ["perfbench.Probes", "--seed", "1"] + common, 3000
    else:
        main_args, limit = ["perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
                            "--seconds", str(args.seconds), "--trace", str(args.trace)] + common, RUN_LIMIT_S
    cmd = [java] + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-Xms3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.callstack.depth=1000", "-Dspark.ui.enabled=false", "-cp", classpath] + main_args
    log = os.path.join(BUILD, f"run-{name}.log")
    try:
        with open(log, "w") as err:
            budget = max(10.0, limit - (time.time() - t_start))
            r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True,
                               stdin=subprocess.DEVNULL, timeout=budget)
        lines = r.stdout.splitlines()
        if args.probes:
            if r.returncode != 0:
                fail(f"probes exited with {r.returncode} (log: {log})")
            for l in lines:
                if l.startswith("PROBE "):
                    print(l[len("PROBE "):])
            return
        result = next((l[len("RESULT "):] for l in reversed(lines) if l.startswith("RESULT ")), None)
        if r.returncode != 0 or result is None:
            with open(log) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"benchmark program exited with {r.returncode} (log: {log})")
        res = json.loads(result)
        for l in lines:
            if l.startswith("PROPERTIES "):
                print("input properties: " + l[len("PROPERTIES "):])
        if args.workload == "pit_dedup" and args.trace == 0:
            problems = duckdb_check(os.path.join(work, "data"), work)
            for p in problems:
                print(f"perfbench: duckdb check failed: {p}", file=sys.stderr)
            if problems:
                res["correct"], res["failed"] = False, res["attempted"]
        if args.trace == 1:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            for f in os.listdir(work):
                if f.startswith("trace-"):
                    shutil.move(os.path.join(work, f), os.path.join(traces, f))
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {limit} s (log: {log})")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: {name} run took {time.time() - t_start:.1f} s", file=sys.stderr)
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
