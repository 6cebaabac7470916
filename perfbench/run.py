"""Benchmark of featuretools_spark: one workload, one seed, one run.

    python3 perfbench/run.py --workload asof_backfill --seed 1 \
        --seconds 10 --trace 0

Run it from the root of a checkout of the repository. A run

1. generates (or reuses) the seeded inputs under ``.perfbench_cache/``,
   or checks the sf0.1 fixtures the declared queries run on;
2. starts Spark on ``local[nproc]`` with ``max(nproc, 8)`` shuffle
   partitions and ships the package to the Python workers the way
   ``spark-submit --py-files`` does;
3. runs every call of the workload once, untimed, collecting its output
   (this pass is part of ``setup_s``);
4. runs whole cycles of the calls, each frame sent to the ``noop`` sink,
   until ``--seconds`` have passed and at least two cycles have run
   (``--trace 1``: an untraced, a traced
   and an untraced cycle instead); ``values_per_s`` is the median over
   the cycles. Times leave out the CPU time the host of the virtual
   machine gave to other guests (``tracing.unstolen``);
5. runs the open-defect probes (the costly ones with ``--trace 1`` only),
   checks every output against its oracle
   and prints one JSON object as the last line of standard output.

Every end-to-end metric is printed with ``--trace 0``, every per-layer
metric with ``--trace 1`` (see BENCHMARK.json). Scratch files go to
``.perfbench_tmp/``; nothing is written outside the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import tracing as tr  # noqa: E402

AGE_AT_IMPORT = tr.process_age_s()
T_IMPORT = time.perf_counter()
TICKS_AT_IMPORT = tr.cpu_ticks()

E2E = {"setup_s": "s", "values_per_s": "values/s", "call_s.geomean": "s"}


def log(*a) -> None:
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def since_process_start() -> float:
    return AGE_AT_IMPORT + (time.perf_counter() - T_IMPORT)


# ----------------------------------------------------------------------
# environment
# ----------------------------------------------------------------------
def check_checkout() -> None:
    for need in ("featuretools_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"not a checkout of the repository: {need} is missing "
                f"under {ROOT}")
            sys.exit(2)


def prepare_env(tmp: str) -> None:
    for d in ("spark-local", "python"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = os.path.join(tmp, "python")
    # every JVM (spark-submit's launcher too) keeps its temp files and
    # perf-data file inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(tmp, 'python')}")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    sys.path.insert(0, ROOT)


def package_zip(tmp: str) -> str:
    """featuretools_spark plus __spark_entry__.py, for sc.addPyFile."""
    path = os.path.join(tmp, "pyfiles.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.write(os.path.join(ROOT, "__spark_entry__.py"), "__spark_entry__.py")
        pkg = os.path.join(ROOT, "featuretools_spark")
        for dirpath, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, ROOT))
    return path


def start_spark(tmp: str, cores: int):
    from featuretools_spark.session import get_spark

    spark = get_spark(
        "perfbench", master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.addPyFile(package_zip(tmp))
    return spark


def stop_spark(spark) -> None:
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


# ----------------------------------------------------------------------
# running calls
# ----------------------------------------------------------------------
class Ctx:
    def __init__(self, spark, input_dir, tmp, spans, traced):
        self.spark, self.input_dir, self.spans = spark, input_dir, spans
        self.backfill_dir = os.path.join(tmp, "backfill")
        self.traced = traced
        self.next_id = 0


class Outcome:
    __slots__ = ("call", "wall", "unstolen", "build_s", "exec_s", "error",
                 "result", "summary", "n_features", "metrics")

    def __init__(self, call):
        self.call = call
        self.wall = self.unstolen = self.build_s = self.exec_s = 0.0
        self.error = None
        self.result = self.summary = None
        self.n_features = 0
        self.metrics = {}


def run_call(ctx: Ctx, call, collect: bool) -> Outcome:
    """Build the call and run its action. ``collect`` keeps the output
    for the oracle check instead of sending it to the noop sink."""
    from oracle import spark_result

    spark, spans, o = ctx.spark, ctx.spans, Outcome(call)
    ctx.next_id += 1
    cid = ctx.next_id
    sc = spark.sparkContext
    if ctx.traced:
        sc.setJobGroup(f"pb{cid}b", call.name, False)
    k0 = tr.cpu_ticks()
    t0 = time.perf_counter()
    try:
        with spans.span("call", cid):
            if call.layer:                    # declared query function
                with spans.span(call.layer):
                    out = call.build(ctx)
            else:
                out = call.build(ctx)
            t1 = time.perf_counter()
            o.build_s = t1 - t0
            if call.kind == "frame":
                if ctx.traced:
                    sc.setJobGroup(f"pb{cid}x", call.name, False)
                    sql0 = tr.sql_execution_count(spark)
                with spans.span("exec"):
                    if collect:
                        o.result = spark_result(out)
                    else:
                        out.write.format("noop").mode("overwrite").save()
                o.exec_s = time.perf_counter() - t1
            elif call.kind == "enum":
                o.n_features = len(out)
                o.result = [f.get_name() for f in out] if collect else None
            else:
                o.summary = out
    except Exception as e:  # a failing call is counted, not fatal
        o.error = f"{type(e).__name__}: {(str(e).splitlines() or [''])[0][:300]}"
        log(f"{call.name} raised:\n{traceback.format_exc()}")
    o.wall = time.perf_counter() - t0
    o.unstolen = tr.unstolen(o.wall, k0, tr.cpu_ticks())
    if ctx.traced:
        sc.setLocalProperty("spark.jobGroup.id", None)
        tr.wait_for_listeners(spark)
        m = {"build_jobs": float(len(tr.job_ids(spark, f"pb{cid}b")))}
        if call.kind == "frame" and o.error is None:
            m.update({f"exec.{k}": v for k, v in
                      tr.stage_metrics(spark, f"pb{cid}x").items()})
            m.update(tr.sql_metrics(spark, sql0))
        elif call.kind == "io":
            m.update({f"io.{k}": v for k, v in
                      tr.stage_metrics(spark, f"pb{cid}b").items()})
        o.metrics = m
    return o


def conf_changes(before: dict, after: dict) -> list[str]:
    return sorted(k for k in set(before) | set(after)
                  if before.get(k) != after.get(k))


def call_values(call, o: Outcome, rows_values: dict) -> int:
    from workloads import backfill_values

    if call.kind == "frame":
        return rows_values.get(call.name, 0)
    if call.kind == "io":
        return backfill_values(o.summary)
    return 0            # an enumeration returns feature definitions


def check_io(ctx, o: Outcome) -> None:
    from workloads import check_backfill

    if o.error is None and o.call.kind == "io":
        problems = check_backfill(o.summary, ctx.expected_rows.get("dense"))
        if problems:
            o.error = "; ".join(problems)


def run_cycle(ctx, calls, rows_values, failures, timed) -> int:
    values = 0
    for call in calls:
        o = run_call(ctx, call, collect=False)
        log(f"{'traced' if ctx.traced else 'timed'} {call.name}: "
            f"{o.wall:.4f}s wall, {o.unstolen:.4f}s unstolen")
        check_io(ctx, o)
        if o.error is not None:
            failures.append((call.name, o.error))
            continue
        timed.append(o)
        ctx.outcomes.append(o)
        values += call_values(call, o, rows_values)
    return values


def timed_cycle(ctx, wl, rows_values, failures, timed) -> tuple:
    """One cycle of the workload's calls -> (values per second of wall
    time, values per second of unstolen time)."""
    k0, t0 = tr.cpu_ticks(), time.perf_counter()
    values = run_cycle(ctx, wl.calls, rows_values, failures, timed)
    wall = time.perf_counter() - t0
    return values / wall, values / tr.unstolen(wall, k0, tr.cpu_ticks())


def call_s_geomean(timed: list, key=lambda o: o.unstolen) -> float:
    """Geometric mean over the workload's calls of each call's median
    time over the timed cycles. Every call weighs the same, so a call
    that gets x% faster moves the figure by about x% / (number of
    calls); a median pooled over calls of different lengths would
    instead jump between whichever calls sit in the middle."""
    per_call = {}
    for o in timed:
        per_call.setdefault(o.call.name, []).append(key(o))
    if not per_call:
        return 0.0
    return math.exp(statistics.fmean(
        math.log(statistics.median(v)) for v in per_call.values()))


# ----------------------------------------------------------------------
# verification
# ----------------------------------------------------------------------
def verify(ctx, wl, outcomes: list) -> list[tuple[str, str]]:
    """Check each outcome's collected output with its oracle; the io
    calls are checked on the written parquet. Outcomes that raised are
    already counted and are skipped."""
    import duckdb
    from oracle import compare, duck_result

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET threads = {ctx.cores}")
    for view, path in wl.duck_views.items():
        con.execute(f"CREATE VIEW {view} AS SELECT * FROM '{path}'")
    expected, cache = {}, {}
    failures = []
    for o in outcomes:
        call = o.call
        if o.error is not None:
            continue
        if call.kind == "enum":
            if len(set(o.result)) != len(o.result) or not o.result:
                failures.append((call.name, "duplicate or no features"))
            continue
        if call.oracle not in expected:
            expected[call.oracle] = duck_result(con, wl.oracles[call.oracle])
        exp = expected[call.oracle]
        if call.kind == "io":
            got = duck_result(con, f"SELECT * FROM read_parquet("
                              f"'{ctx.backfill_dir}/*/*.parquet', "
                              f"hive_partitioning = false)")
            problems = compare(*got, *exp, cache=cache)
        else:
            problems = compare(*o.result, *exp, drop=call.drop, cache=cache)
        if problems:
            failures.append((call.name, "; ".join(problems)))
    con.close()
    return failures


# ----------------------------------------------------------------------
# metrics
# ----------------------------------------------------------------------
def per_layer(ctx, wl, traced_outcomes, spans, extra) -> dict:
    from workloads import ASOF_CALLS, N_BUCKETS

    out = dict(extra)
    sums = {}
    for o in traced_outcomes:
        for k, v in o.metrics.items():
            if k.startswith("exec.") and k.endswith(
                    ("peak_execution_memory_mb", "task_skew")):
                sums[k] = max(sums.get(k, 0.0), v)
            else:
                sums[k] = sums.get(k, 0.0) + v
    totals = tr.total_times(spans.spans)
    selfs = tr.self_times(spans.spans)
    frames = [o for o in traced_outcomes if o.call.kind == "frame"]
    out["entityset.build_s"] = totals.get("entityset", 0.0)
    out["dfs.enumerate_s"] = sum(o.wall for o in traced_outcomes
                                 if o.call.kind == "enum")
    out["dfs.features"] = float(sum(o.n_features for o in traced_outcomes
                                    if o.call.kind == "enum"))
    out["cfm.plan_s"] = sum(o.build_s for o in frames)
    out["cfm.plan_jobs"] = sum(o.metrics.get("build_jobs", 0.0)
                               for o in frames)
    out["exec.s"] = sum(o.exec_s for o in frames)
    for k in tr.STAGE_KEYS:
        out[f"exec.{k}"] = sums.get(f"exec.{k}", 0.0)
    for k in tr.PLAN_KEYS:
        out[f"plan.{k}"] = sums.get(f"plan.{k}", 0.0)
    out["exec.python_s"] = sums.get("exec.python_s", 0.0)
    out["exec.python_bytes"] = sums.get("exec.python_bytes", 0.0)
    out["ops.call_s"] = sum(o.wall for o in frames if o.call.layer == "ops")
    for name in ASOF_CALLS:
        out[f"asof.{name}_s"] = 0.0
    for o in frames:
        if f"asof.{o.call.name}_s" in out:
            out[f"asof.{o.call.name}_s"] = o.wall
    io = {o.summary["mode"]: o for o in traced_outcomes
          if o.call.kind == "io" and o.summary}
    out["io.write_s"] = io["fresh"].wall if "fresh" in io else 0.0
    out["io.resume_s"] = io["resume"].wall if "resume" in io else 0.0
    out["io.jobs_per_bucket"] = (io["fresh"].metrics.get("io.jobs", 0.0)
                                 / N_BUCKETS if "fresh" in io else 0.0)
    files, nbytes = 0, 0
    if "fresh" in io:
        for dirpath, _, names in os.walk(ctx.backfill_dir):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(dirpath, n))
        values = sum(m["rows"] for m in io["fresh"].summary["buckets"]
                     .values()) * 5
        out["io.files"] = float(files)
        out["io.bytes_per_value"] = nbytes / values if values else 0.0
    else:
        out["io.files"] = out["io.bytes_per_value"] = 0.0
    for layer in ("session", "entityset", "dfs", "cfm", "ops", "exec", "io",
                  "verify", "call"):
        out[f"self.{layer}_s"] = selfs.get(layer, 0.0)
    return out


PER_LAYER_UNITS = {
    "_s": "s", ".s": "s", "_bytes": "bytes", "_mb": "MB",
    "task_skew": "ratio", "share": "ratio", "bytes_per_value": "bytes/value",
}


def unit_of(name: str) -> str:
    for suffix, unit in PER_LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


# ----------------------------------------------------------------------
# main
# ----------------------------------------------------------------------
def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    check_checkout()
    import inputs
    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; "
            f"choose from {sorted(workloads.WORKLOADS)}")
        return 2
    tmp = os.path.join(ROOT, ".perfbench_tmp")
    prepare_env(tmp)
    cores = os.cpu_count() or 4
    spans = tr.Spans(enabled=bool(args.trace))

    family = workloads.FAMILIES[args.workload]
    if family is None:
        input_dir, generate_s = inputs.fixtures()
        input_s = generate_s
    else:
        input_dir, generate_s = inputs.ensure(
            os.path.join(ROOT, ".perfbench_cache"), family, args.seed)
        input_s = inputs.generate_seconds(input_dir)
    log(f"inputs {input_dir} (prepared in {generate_s:.2f}s)")

    t = time.perf_counter()
    with spans.span("session"):
        spark = start_spark(tmp, cores)
    session_s = time.perf_counter() - t
    spans.enabled = False           # only the traced cycle is recorded
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    # the program's own conf changes are counted against this snapshot
    # (the benchmark never resets the conf between calls)
    conf_start = tr.sql_conf(spark)
    try:
        wl = workloads.WORKLOADS[args.workload](input_dir)
        ctx = Ctx(spark, input_dir, tmp, spans, traced=False)
        ctx.cores, ctx.outcomes = cores, []
        # untimed pass: warms every call and keeps its output for checking
        warm, failures, attempted = {}, [], 0
        for call in wl.calls:
            o = run_call(ctx, call, collect=True)
            attempted += 1
            warm[call.name] = o
            if o.error is not None:
                failures.append((call.name, o.error))
            log(f"warm {call.name}: {o.wall:.2f}s"
                + (f" ERROR {o.error}" if o.error else ""))
        rows_values, expected_rows = {}, {}
        for call in wl.calls:
            o = warm[call.name]
            if call.kind == "frame" and o.error is None:
                cols, rows = o.result
                rows_values[call.name] = len(rows) * workloads.value_columns(
                    call, list(cols))
                expected_rows.setdefault(call.oracle, len(rows))
        ctx.expected_rows = expected_rows
        for call in wl.calls:
            o = warm[call.name]
            if call.kind == "io" and o.error is None:
                check_io(ctx, o)
                if o.error is not None:
                    failures.append((call.name, o.error))
        setup_raw = since_process_start() - generate_s
        setup_s = tr.unstolen(setup_raw, TICKS_AT_IMPORT, tr.cpu_ticks())

        timed, trace_extra = [], {}
        if not args.trace:
            t0 = time.perf_counter()
            rates, raw_rates = [], []   # values per second of each cycle
            while True:
                raw, rate = timed_cycle(ctx, wl, rows_values, failures, timed)
                raw_rates.append(raw)
                rates.append(rate)
                # calls still speed up from one cycle to the next, so a
                # run that stopped after one cycle would read slower than
                # one that ran two: every run times at least two
                if (len(rates) >= 2
                        and time.perf_counter() - t0 >= args.seconds):
                    break
            log(f"wall time with the host's steal left in: setup_s "
                f"{setup_raw:.4f}, values_per_s "
                f"{statistics.median(raw_rates):.2f}, call_s.geomean "
                f"{call_s_geomean(timed, key=lambda o: o.wall):.4f}")
            attempted += len(rates) * len(wl.calls)
        else:
            # untraced, traced, untraced: calls still speed up from one
            # cycle to the next, so the traced cycle is set against the
            # mean of the two around it
            before = timed_cycle(ctx, wl, rows_values, failures, timed)[1]
            ctx.traced = spans.enabled = True
            ctx.outcomes = []
            tr.wait_for_listeners(spark)
            traced_vps = timed_cycle(ctx, wl, rows_values, failures,
                                     timed)[1]
            ctx.traced = spans.enabled = False
            traced_outcomes, ctx.outcomes = ctx.outcomes, []
            after = timed_cycle(ctx, wl, rows_values, failures, timed)[1]
            ctx.outcomes = traced_outcomes
            untraced_vps = (before + after) / 2
            trace_extra["trace.overhead_share"] = (
                (untraced_vps - traced_vps) / untraced_vps)
            attempted += 3 * len(wl.calls)
        # the oracle checks below are the benchmark's own memory, not the
        # program's
        rss = tr.peak_rss_mb(jvm_pid)
        changed = conf_changes(conf_start, tr.sql_conf(spark))
        trace_extra["cfm.conf_changes"] = float(len(changed))
        log(f"SQL conf keys changed since get_spark: {changed or 'none'}")
        log(f"peak rss: {tr.peak_rss_mb(None):.0f} MB here, "
            f"{rss - tr.peak_rss_mb(None):.0f} MB in the JVM")

        # open defects: run and checked on every run (the costly ones on
        # traced runs) and reported by name, but not part of the timed
        # work or of `failed`
        probe_calls = wl.probes + (wl.traced_probes if args.trace else [])
        probes = [run_call(ctx, call, collect=True) for call in probe_calls]
        for o in probes:
            log(f"probe {o.call.name}: {o.wall:.2f}s")
        probe_failures = [(o.call.name, o.error) for o in probes
                          if o.error is not None]

        spans.enabled = bool(args.trace)
        t = time.perf_counter()
        with spans.span("verify"):
            failures += verify(ctx, wl, list(warm.values()))
        verify_s = time.perf_counter() - t
        t = time.perf_counter()
        probe_failures += verify(ctx, wl, probes)
        log(f"probe verify: {time.perf_counter() - t:.2f}s")
        for o in probes:
            if o.call.name not in {n for n, _ in probe_failures}:
                log(f"open-defect probe {o.call.name} passed this run")
        log(f"verify: {verify_s:.2f}s")

        failed = len(failures)
        all_failed = failures + probe_failures
        share = len(all_failed) / (attempted + len(probes))
        print(f"ops_failed_share {share:.6f} ({len(all_failed)} of "
              f"{attempted + len(probes)} calls): "
              + (", ".join(sorted({n for n, _ in all_failed})) or "none"))
        for name, err in all_failed:
            print(f"  failed {name}: {err}")
        if args.trace:
            extra = {
                "session.start_s": session_s,
                "input.generate_s": input_s,
                "verify.s": verify_s,
                "ops_failed_share": share,
                "peak_rss_mb": rss,
                **trace_extra,
            }
            metrics = per_layer(ctx, wl, ctx.outcomes, spans, extra)
            path = os.path.join(tmp, f"spans-{wl.name}-{args.seed}.json")
            with open(path, "w") as fh:
                json.dump([vars(sp) for sp in spans.spans], fh)
            log(f"spans written to {path}")
            metrics = {k: {"value": float(v), "unit": unit_of(k)}
                       for k, v in metrics.items()}
        else:
            metrics = {
                "setup_s": setup_s,
                "values_per_s": statistics.median(rates),
                "call_s.geomean": call_s_geomean(timed),
            }
            metrics = {k: {"value": v, "unit": E2E[k]}
                       for k, v in metrics.items()}
        result = {"correct": failed == 0, "attempted": attempted,
                  "failed": failed, "metrics": metrics}
    finally:
        stop_spark(spark)
        shutil.rmtree(os.path.join(tmp, "backfill"), ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
