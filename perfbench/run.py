"""Validation benchmark for katydid_haskell_spark (see perfbench/README.md).

    python3 perfbench/run.py --workload pages_scan --seed 1 --seconds 10 \
        --trace 0

Prints a table of metrics with units, then, as the last line, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.  Run it
from the repository root; everything it writes goes under
``.perfbench_work/`` there.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
MIN_TIMED = 3
DRIVER_MEM = "3g"
PR_SET_CHILD_SUBREAPER = 36
REAP_TIMEOUT_S = 30

E2E_UNITS = {"docs_per_sec": "1/s", "setup_s": "s"}

_ALL = "all workloads"
_PAGES = "pages_scan, pages_checkpoint"
_CKPT = "pages_checkpoint"
PASS_COUNTERS = (("stages", "count"), ("shuffle_write_bytes", "bytes"),
                 ("executor_run_s", "s"), ("executor_cpu_s", "s"),
                 ("gc_s", "s"), ("spill_bytes", "bytes"),
                 ("rows_out", "count"))
CHECKPLAN_PASSES = ("scan", "rollup", "violations", "drift", "uniqueness")

# name → (unit, better, end-to-end metric it should move, on which workloads)
LAYER_METRICS = {
    "session.start_s": ("s", "lower", "setup_s", _ALL),
    "sources.pages.gen_s": ("s", "lower", "setup_s", _PAGES),
    "relapse.parser.parse_ms": ("ms", "lower", "setup_s", _ALL),
    "relapse.smart.compile_ms": ("ms", "lower", "setup_s", _ALL),
    "relapse.lower.lower_ms": ("ms", "lower", "setup_s", _ALL),
    "relapse.lower.lowered_ratio": ("ratio", "higher", "setup_s", _PAGES),
    "relapse.automaton.fast_path_ratio": ("ratio", "higher", "setup_s",
                                          "json_docs"),
    **{f"plans.checkplan.{p}_s": ("s", "lower", "docs_per_sec", _PAGES)
       for p in CHECKPLAN_PASSES},
    **{f"plans.checkplan.{p}.{k}": (unit, "lower", "docs_per_sec", _PAGES)
       for p in CHECKPLAN_PASSES for k, unit in PASS_COUNTERS},
    "plans.checkplan.ignored_hints": ("count", "lower", "docs_per_sec",
                                      _PAGES),
    **{f"relapse.vpa.batch_docs_per_sec.{s}": ("1/s", "higher",
                                               "docs_per_sec", "json_docs")
       for s in ("status_lang", "links_https", "scores_split")},
    "relapse.automaton.arrow_floor_s": ("s", "lower", "docs_per_sec",
                                        "json_docs"),
    "relapse.automaton.python_stage_run_s": ("s", "lower", "docs_per_sec",
                                             "json_docs"),
    "relapse.automaton.python_bytes_sent": ("bytes", "lower", "docs_per_sec",
                                            "json_docs"),
    "plans.runner.ckpt_files": ("count", "lower", "ckpt_bytes_per_doc",
                                _CKPT),
    "plans.runner.relaunch_files_written": ("count", "lower", "relaunch_s",
                                            _CKPT),
    "plans.runner.completed_buckets_ms": ("ms", "lower", "relaunch_s", _CKPT),
    "plans.runner.persistent_rdds_after": ("count", "lower", "docs_per_sec",
                                           _PAGES),
    "relaunch_s": ("s", "lower", "(end-to-end itself)", _CKPT),
    "ckpt_bytes_per_doc": ("bytes", "lower", "(end-to-end itself)", _CKPT),
    "trace.overhead_ratio": ("ratio", "lower", "(cost of tracing)", _ALL),
}


def parse_args(argv):
    from perfbench.workloads import SIZES, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full",
                    help="input size; 'toy' is the self-check size")
    return ap.parse_args(argv)


def configure_env(work: str, trace: bool) -> dict:
    """Spark settings applied from outside the package: a private local
    dir and temp dir inside ``work`` and, for a traced run, an
    uncompressed event log."""
    dirs = {k: os.path.join(work, k) for k in
            ("spark-local", "tmp", "events", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_DRIVER_MEM", DRIVER_MEM)
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.local.dir": dirs["spark-local"],
            "spark.sql.warehouse.dir": dirs["warehouse"]}
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + dirs["events"],
                     "spark.eventLog.compress": "false"})
    # keep every JVM's files in ``work``: without -XX:-UsePerfData each
    # JVM also writes an hsperfdata file under /tmp
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    args += ["--driver-java-options", java_opts, "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args)
    return dirs


def become_subreaper() -> None:
    """Make this process the parent of its orphaned descendants (Linux).

    The JVM starts the ``pyspark.daemon`` Python workers in a process
    group of their own and does not wait for them when it stops; with
    this, the workers it leaves behind become children of this process,
    which ``reap_children`` then waits for."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def child_pids() -> list:
    me = str(os.getpid())
    pids = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    # the fields after the parenthesised command name
                    fields = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue
            if fields[1] == me:
                pids.append(int(d))
    return pids


def reap_children(timeout: float = REAP_TIMEOUT_S) -> None:
    """Wait until this process has no child left; kill the ones still
    running after ``timeout`` seconds and wait for them too."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for pid in child_pids():
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.05)


def raise_on_sigterm(signum, _frame):
    """A terminated run still stops its JVM and waits for its workers."""
    raise SystemExit(128 + signum)


@contextlib.contextmanager
def spark_session(app_name: str, cores: int):
    """``session.get_spark``; on exit, stop the session, wait for the JVM
    to end, then for every Python worker it started."""
    from pyspark import SparkContext

    from katydid_haskell_spark.session import get_spark

    try:
        yield get_spark(app_name, cores=cores)
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        try:
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
        finally:
            if gw is not None:
                with contextlib.suppress(Exception):
                    gw.shutdown()
            if proc is not None:
                # the JVM exits when its stdin closes
                with contextlib.suppress(OSError):
                    proc.stdin.close()
                try:
                    proc.wait(timeout=REAP_TIMEOUT_S)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            reap_children()


def cpu_jiffies():
    """(steal, total) CPU jiffies since boot from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def untraced_reference(args):
    """Median timed-run seconds of the last untraced run of the same
    workload and size recorded in this checkout (any seed; the inputs of
    every seed are alike in size and shape), or None."""
    path = os.path.join(WORK_ROOT,
                        f"untraced-{args.workload}-{args.size}.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)["timed_s"]


def run(args, work: str, log_path: str) -> dict:
    from perfbench import tracing
    from perfbench.workloads import SIZES, WORKLOADS, Ctx

    reference_s = untraced_reference(args) if args.trace else None
    dirs = configure_env(work, bool(args.trace))
    cores = len(os.sched_getaffinity(0))
    tracer = tracing.Tracer(bool(args.trace))
    with contextlib.ExitStack() as stack:
        with tracer.span("setup") as setup_span:
            with tracer.span("session.start") as start_span:
                spark = stack.enter_context(
                    spark_session(f"perfbench-{args.workload}", cores))
            if args.trace:
                tracer.bind(spark.sparkContext)
            ctx = Ctx(spark=spark, tracer=tracer, work=work, seed=args.seed,
                      size=SIZES[args.size], log_path=log_path)
            ctx.layers["session.start_s"] = start_span.seconds
            w = WORKLOADS[args.workload](ctx)
            w.setup()
        # the compile layers run COMPILE_REPS times; set-up counts one (median)
        setup_s = (setup_span.seconds - ctx.notes["compile_span_s"]
                   + ctx.compile_s)

        timed_s, failures, attempted = [], [], 0
        hints0 = ctx.hint_lines()
        jiffies0 = cpu_jiffies()
        with tracer.span("timed"):
            t0 = time.perf_counter()
            while (attempted < MIN_TIMED
                   or time.perf_counter() - t0 < args.seconds):
                with tracer.span("timed_run"):
                    try:
                        secs, diffs = w.timed(attempted)
                        timed_s.append(secs)
                    except Exception as e:  # a raising run is a failed run
                        traceback.print_exc()
                        diffs = [f"raised {type(e).__name__}: {e}"]
                if diffs:
                    failures.append((attempted, diffs))
                attempted += 1
        jiffies1 = cpu_jiffies()
        if jiffies0 and jiffies1 and jiffies1[1] > jiffies0[1]:
            # CPU time the host gave to other guests: context for the
            # timings, not a metric
            ctx.notes["host_steal_share"] = (
                (jiffies1[0] - jiffies0[0]) / (jiffies1[1] - jiffies0[1]))
        if args.workload != "json_docs":
            ctx.layers["plans.checkplan.ignored_hints"] = (
                (ctx.hint_lines() - hints0) / attempted)
        ctx.layers["plans.runner.persistent_rdds_after"] = len(
            spark.sparkContext._jsc.getPersistentRDDs())
        w.after()
        if args.trace:
            with tracer.span("layers"):
                diffs = w.traced_extras()
            if diffs:
                failures.append(("layers", diffs))
            attempted += 1

    median_s = statistics.median(timed_s) if timed_s else float("nan")
    out = {
        "workload": args.workload, "seed": args.seed, "rows": w.rows,
        "cores": cores, "timed_s": timed_s, "attempted": attempted,
        "failures": failures, "setup_s": setup_s,
        "docs_per_sec": w.rows / median_s if timed_s else 0.0,
        "extra_e2e": w.extra_e2e(), "notes": ctx.notes,
    }
    if not args.trace:
        os.makedirs(WORK_ROOT, exist_ok=True)
        path = os.path.join(WORK_ROOT,
                            f"untraced-{args.workload}-{args.size}.json")
        with open(path, "w") as f:
            json.dump({"seed": args.seed, "timed_s": median_s}, f)
        return out

    table = tracing.span_table(
        tracer.spans, tracing.reduce_event_log(dirs["events"]))
    layers = {name: 0.0 for name in LAYER_METRICS}
    layers.update({k: v for k, v in ctx.layers.items() if k in layers})
    for p in CHECKPLAN_PASSES:
        sid = ctx.notes.get(f"span.plans.checkplan.{p}")
        if sid is not None:
            for k, _unit in PASS_COUNTERS:
                if k in table[sid]:
                    layers[f"plans.checkplan.{p}.{k}"] = table[sid][k]
    runs = [row for row, s in zip(table, tracer.spans)
            if s.name == "relapse.automaton.validate_json_column"]
    if runs:
        layers["relapse.automaton.python_stage_run_s"] = statistics.median(
            r["python_stage_run_s"] for r in runs)
        layers["relapse.automaton.python_bytes_sent"] = statistics.median(
            r["python_bytes_sent"] for r in runs)
    if timed_s and reference_s:
        layers["trace.overhead_ratio"] = median_s / reference_s - 1.0
    out.update(layers=layers, table=table, reference_s=reference_s)
    path = os.path.join(WORK_ROOT, "traces",
                        f"{args.workload}-seed{args.seed}.json")
    tracing.write_trace(path, tracer.spans, table,
                        {"layers": layers, "notes": ctx.notes})
    out["trace_file"] = os.path.relpath(path, ROOT)
    return out


def report(args, out: dict) -> dict:
    """Print the human-readable table; return the final result object."""
    n_failed = len(out["failures"])
    print(f"perfbench {out['workload']} seed={out['seed']} "
          f"rows={out['rows']} cores={out['cores']} "
          f"checked_operations={out['attempted']} trace={args.trace}")
    ts = out["timed_s"]
    print(f"  {'docs_per_sec':<44}{out['docs_per_sec']:>14.2f} 1/s   "
          f"(rows / median of {len(ts)} timed runs: "
          + ", ".join(f"{t:.2f}" for t in ts) + " s)")
    print(f"  {'setup_s':<44}{out['setup_s']:>14.3f} s")
    print(f"  {'error_rate':<44}{n_failed / out['attempted']:>14.3f} ratio "
          f"({n_failed} of {out['attempted']} checked operations failed)")
    for name, (value, unit) in out["extra_e2e"].items():
        print(f"  {name:<44}{value:>14.3f} {unit}")
    for i, diffs in out["failures"]:
        print(f"  FAILED timed run {i}: " + "; ".join(diffs[:3]))
    if "host_steal_share" in out["notes"]:
        print(f"  host CPU steal during the timed runs: "
              f"{out['notes']['host_steal_share']:.1%}")
    if "match_rates" in out["notes"]:
        print(f"  match rates: {out['notes']['match_rates']}")
    result = {"correct": n_failed == 0, "attempted": out["attempted"],
              "failed": n_failed}
    if not args.trace:
        result["metrics"] = {name: {"value": out[name], "unit": unit}
                             for name, unit in E2E_UNITS.items()}
        return result

    print("  per-layer metrics (traced run)"
          f"{'':<16}{'value':>12} unit   moves")
    for name, (unit, _better, moves, where) in LAYER_METRICS.items():
        print(f"  {name:<46}{out['layers'][name]:>14.4f} {unit:<6} "
              f"{moves} [{where}]")
    if out["reference_s"] and ts:
        print(f"  tracing overhead: median timed run "
              f"{statistics.median(ts):.3f} s traced vs "
              f"{out['reference_s']:.3f} s untraced "
              f"({out['layers']['trace.overhead_ratio']:+.1%})")
    else:
        print("  tracing overhead: not measured (no untraced run of this "
              "workload and size recorded in this checkout yet)")
    print(f"  {'span':<60}{'wall_s':>8}{'self_s':>8}{'jobs':>6}"
          f"{'stages':>7}{'run_s':>8}{'cpu_s':>8}{'shuffle_B':>11}")
    for row in out["table"]:
        print(f"  {row['span'][-60:]:<60}{row['wall_s']:>8.2f}"
              f"{row['self_s']:>8.2f}{row['jobs']:>6.0f}{row['stages']:>7.0f}"
              f"{row['executor_run_s']:>8.2f}{row['executor_cpu_s']:>8.2f}"
              f"{row['shuffle_write_bytes']:>11.0f}")
    print(f"  spans and per-span table: {out['trace_file']}")
    result["metrics"] = {
        name: {"value": out["layers"][name], "unit": unit}
        for name, (unit, *_rest) in LAYER_METRICS.items()}
    return result


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "katydid_haskell_spark",
                                       "__init__.py")):
        print("perfbench: the katydid_haskell_spark package is not next to "
              "perfbench/; run from a repository checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    become_subreaper()
    signal.signal(signal.SIGTERM, raise_on_sigterm)
    work = os.path.join(WORK_ROOT, f"run-{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    log_path = os.path.join(work, "driver.log")
    # Spark's JVM inherits fd 2: its log lands in the run's log file, where
    # the ignored-hint warnings are counted
    saved_err = os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_APPEND)
    os.dup2(log_fd, 2)
    ok = False
    try:
        out = run(args, work, log_path)
        ok = True
    except Exception:
        traceback.print_exc()
    finally:
        sys.stderr.flush()
        os.dup2(saved_err, 2)
        os.close(log_fd)
    if not ok:
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
    shutil.rmtree(work, ignore_errors=True)
    if not ok:
        return 1
    result = report(args, out)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
