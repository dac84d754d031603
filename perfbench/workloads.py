"""The three workloads.  Each calls the package's public functions only.

A workload has a set-up (inputs, compile, untimed warm-up), a timed
operation repeated for the run's seconds, an output check per timed
operation, and, in a traced run, extra per-layer measurements.  Every
timed operation builds its DataFrames afresh and forces them into a noop
sink (or, for ``pages_checkpoint``, the runner's own parquet sinks).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Tuple

from . import checks

# Input sizes.  "toy" is the benchmark's self-check size.
SIZES = {
    "full": {"pages": 40_000, "json": 100_000, "sample": 2_000,
             "vpa_sample": 5_000},
    "toy": {"pages": 2_000, "json": 2_000, "sample": 200, "vpa_sample": 200},
}

# json_docs specs: the first lowers to the Variant/Catalyst path, the other
# two run only in the visibly-pushdown automaton behind the Arrow UDF.
JSON_SPECS = {
    "status_lang": ('(.status >= 200 & .status < 400 & '
                    '.lang *= []string{"en","de","fr","zh"})'),
    "links_https": '.links: (_: .href ^= "https://")*',
    "scores_split": ".scores: [(_: < 50)*, (_: >= 50)*]",
}

SNAPSHOT = "bench"
PAGE_FILES = 8
COMPILE_REPS = 3
HINT_IGNORED = "Hint (strategy=broadcast) is not supported"


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str
    seed: int
    size: Dict[str, int]
    log_path: str
    layers: Dict[str, float] = field(default_factory=dict)
    compile_s: float = 0.0
    notes: Dict[str, object] = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def hint_lines(self) -> int:
        """Ignored-hint warnings Spark has logged so far in this run."""
        with open(self.log_path, errors="replace") as f:
            return sum(1 for line in f if HINT_IGNORED in line)

    def compile(self, specs: List[str], **kw) -> None:
        with self.tracer.span("compile") as s:
            self.compile_s = time_compile(self, specs, **kw)
        self.notes["compile_span_s"] = s.seconds


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def observed_noop(df, *aggs) -> dict:
    """Force ``df`` into the noop sink and return aggregates observed on
    the rows that reached it (no second pass)."""
    from pyspark.sql import Observation

    obs = Observation()
    noop(df.observe(obs, *aggs))
    return obs.get


def dir_stats(path: str):
    """(files, bytes) under a directory."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def median(xs: List[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# --------------------------------------------------------------------------
# compile layers (shared)
# --------------------------------------------------------------------------

def time_compile(ctx: Ctx, specs: List[str], schema=None,
                 json_col=None) -> float:
    """Parse → smart compile → lower every spec, COMPILE_REPS times;
    records the per-layer medians and returns the median total seconds."""
    from katydid_haskell_spark.relapse.automaton import try_lower_json_spec
    from katydid_haskell_spark.relapse.lower import (LoweringUnsupported,
                                                     compile_to_column)
    from katydid_haskell_spark.relapse.parser import parse_grammar
    from katydid_haskell_spark.relapse.smart import compile_grammar

    parse, smart, lower, total = [], [], [], []
    lowered = fast = 0
    for _ in range(COMPILE_REPS):
        p = s = lo = 0.0
        lowered = fast = 0
        for spec in specs:
            t0 = time.perf_counter()
            ast = parse_grammar(spec)
            t1 = time.perf_counter()
            g = compile_grammar(ast)
            t2 = time.perf_counter()
            if schema is not None:
                try:
                    compile_to_column(g, schema)
                    lowered += 1
                except LoweringUnsupported:
                    pass
            if json_col is not None:
                fast += try_lower_json_spec(json_col, spec) is not None
            t3 = time.perf_counter()
            p, s, lo = p + t1 - t0, s + t2 - t1, lo + t3 - t2
        parse.append(p)
        smart.append(s)
        lower.append(lo)
        total.append(p + s + lo)
    n = len(specs)
    ctx.layers["relapse.parser.parse_ms"] = median(parse) * 1e3
    ctx.layers["relapse.smart.compile_ms"] = median(smart) * 1e3
    ctx.layers["relapse.lower.lower_ms"] = median(lower) * 1e3
    ctx.layers["relapse.lower.lowered_ratio"] = (
        lowered / n if schema is not None else 0.0)
    ctx.layers["relapse.automaton.fast_path_ratio"] = (
        fast / n if json_col is not None else 0.0)
    return median(total)


# --------------------------------------------------------------------------
# pages inputs and the suite
# --------------------------------------------------------------------------

class PagesInputs:
    """The pages table (html dropped, bucketed), the undrifted baseline
    corpus and its stored drift histograms, written once in set-up.

    Rows come from ``sources.pages_fixture``, the Spark-free twin of
    ``sources.pages.pages_df`` (the same rows; ``bucket`` from the
    pure-Python xxh64), so generating them starts no Python workers.  Each
    table is split into PAGE_FILES files so the scan runs in parallel, and
    ``warc_ts`` is stored UTC-adjusted so Spark reads it as TIMESTAMP, as
    it reads ``pages_df`` output.
    """

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.n = ctx.size["pages"]
        self.pages = ctx.path("pages")
        self.base = ctx.path("base")
        self.hist = ctx.path("hist")

    def write(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from katydid_haskell_spark.plans.pages_plan import pages_baselines
        from katydid_haskell_spark.sources.pages_fixture import (
            ensure_pages_fixture)

        for n, drifted, out in ((self.n, True, self.pages),
                                (max(self.n // 10, 1000), False, self.base)):
            src = ensure_pages_fixture(n, self.ctx.seed, drifted=drifted,
                                       out_dir=self.ctx.path("fixture"))
            t = pq.read_table(src)
            i = t.schema.get_field_index("warc_ts")
            t = t.set_column(i, "warc_ts", t.column(i).cast(
                pa.timestamp("us", tz="UTC")))
            os.makedirs(out)
            step = -(-t.num_rows // PAGE_FILES)
            for k in range(PAGE_FILES):
                pq.write_table(t.slice(k * step, step),
                               os.path.join(out, f"part-{k:05d}.parquet"))
        spark = self.ctx.spark
        for name, h in pages_baselines(
                spark, spark.read.parquet(self.base)).items():
            h.write.parquet(os.path.join(self.hist, name))

    def table(self):
        return self.ctx.spark.read.parquet(self.pages)

    def dims(self):
        from katydid_haskell_spark.sources.pages import lang_dim_df
        return {"lang_dim": lang_dim_df(self.ctx.spark)}

    def baselines(self):
        spark = self.ctx.spark
        return {name: spark.read.parquet(os.path.join(self.hist, name))
                for name in sorted(os.listdir(self.hist))}

    def plan(self):
        from katydid_haskell_spark.plans.pages_plan import default_pages_plan
        return default_pages_plan(expect_rows=self.n)

    def oracle(self):
        return checks.pages_oracle(self.ctx.work, self.pages, self.base,
                                   self.n, SNAPSHOT)




VERDICT_COLS = ("bucket_id", "rule_id", "pass", "metric", "rows_checked")


def suite_pass(inp: PagesInputs):
    """One run of the full suite through ``run_plan`` into noop sinks;
    returns (verdict map, violation count)."""
    from pyspark.sql import functions as F

    from katydid_haskell_spark.plans.runner import run_plan

    tracer = inp.ctx.tracer
    with tracer.span("build"):
        res = run_plan(inp.table(), inp.plan(), inp.dims(), inp.baselines(),
                       snapshot=SNAPSHOT)
    with tracer.span("sink.verdicts"):
        v = observed_noop(res.verdicts, F.collect_list(
            F.struct(*VERDICT_COLS)).alias("rows"))
    with tracer.span("sink.violations"):
        x = observed_noop(res.violations, F.count(F.lit(1)).alias("n"))
    return checks.verdict_map(v["rows"]), int(x["n"])


def against_first(first: dict, verdicts, n_viol: int, oracle) -> List[str]:
    """The first timed run is checked against the oracle; every later one
    must reproduce the first one's verdict rows and violation count."""
    if not first:
        first.update(verdicts=verdicts, n_viol=n_viol)
        return checks.check_against_oracle(verdicts, oracle())
    diffs = checks.same_verdicts(verdicts, first["verdicts"])
    if n_viol != first["n_viol"]:
        diffs.append(f"violations {n_viol} != {first['n_viol']}")
    return diffs


# pass name → (rule classes kept, sink forced); None = the bare scan
RESTRICTED = {
    "scan": None,
    "rollup": (("row_rules", "stat_rules", "ref_rules"), "verdicts"),
    "violations": (("row_rules", "ref_rules"), "violations"),
    "drift": (("drift_rules",), "verdicts"),
    "uniqueness": (("unique_rules",), "both"),
}


def restricted_passes(ctx: Ctx, inp: PagesInputs) -> None:
    """Time each fused pass alone: ``run_plan_fused`` on a CheckPlan that
    keeps only the rules that pass needs, plus the bare scan of the
    columns the suite reads.  Each runs twice; the second (warm) run is
    the one reported."""
    from pyspark.sql import functions as F

    from katydid_haskell_spark.plans.checkplan import CheckPlan, run_plan_fused

    full = inp.plan()
    count = F.count(F.lit(1)).alias("n")
    for name, spec in RESTRICTED.items():
        for _rep in range(2):
            with ctx.tracer.span(f"plans.checkplan.{name}") as s:
                if spec is None:
                    rows = observed_noop(inp.table().select(
                        "url", "warc_ts", "text", "lang", "bucket"),
                        count)["n"]
                else:
                    kept, sink = spec
                    plan = CheckPlan(**{k: getattr(full, k) for k in kept})
                    v, x = run_plan_fused(inp.table(), plan, inp.dims(),
                                          inp.baselines(), snapshot=SNAPSHOT)
                    rows = 0
                    if sink in ("verdicts", "both"):
                        rows += observed_noop(v, count)["n"]
                    if sink in ("violations", "both"):
                        rows += observed_noop(x, count)["n"]
        ctx.layers[f"plans.checkplan.{name}_s"] = s.seconds
        ctx.layers[f"plans.checkplan.{name}.rows_out"] = rows
        ctx.notes[f"span.plans.checkplan.{name}"] = s.id


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------

@dataclass
class Workload:
    """What a run needs from a workload.

    ``timed(i)`` runs the i-th timed operation and returns its seconds and
    the output-check failures; ``traced_extras()`` runs the traced run's
    layer measurements and returns their check failures; ``after()`` turns
    what the timed operations gathered into per-layer numbers;
    ``extra_e2e()`` returns the workload's own end-to-end figures,
    name → (value, unit).
    """

    rows: int
    setup: Callable[[], None]
    timed: Callable[[int], Tuple[float, List[str]]]
    traced_extras: Callable[[], List[str]]
    after: Callable[[], None] = lambda: None
    extra_e2e: Callable[[], Dict[str, tuple]] = dict


def checkpoint_cycle(ctx: Ctx, inp: PagesInputs, ckpt: str) -> dict:
    """A fresh ``run_resumable`` into an empty checkpoint directory, then
    the relaunch on the completed snapshot, which must leave its rows
    unchanged.  Returns the cycle's timings, counts, rows and check
    failures."""
    from katydid_haskell_spark.plans.runner import (completed_buckets,
                                                    run_resumable)

    def launch():
        run_resumable(inp.table(), inp.plan(), ckpt, inp.dims(),
                      inp.baselines(), snapshot=SNAPSHOT)

    shutil.rmtree(ckpt, ignore_errors=True)
    with ctx.tracer.span("plans.runner.run_resumable") as run:
        launch()
    with ctx.tracer.span("check"):
        verdicts, n_viol = checks.checkpoint_rows(ctx.work, ckpt)
    files, size = dir_stats(ckpt)
    with ctx.tracer.span("plans.runner.completed_buckets") as cb:
        for _ in range(20):
            done = completed_buckets(ckpt, SNAPSHOT)
    with ctx.tracer.span("plans.runner.relaunch") as relaunch:
        launch()
    with ctx.tracer.span("check"):
        files_after, _ = dir_stats(ckpt)
        again = checks.checkpoint_rows(ctx.work, ckpt)
    shutil.rmtree(ckpt, ignore_errors=True)
    diffs = []
    buckets = {b for b, _rule in verdicts if b >= 0}
    if sorted(done) != sorted(buckets):
        diffs.append(f"manifest lists {len(done)} of {len(buckets)} buckets")
    if again != (verdicts, n_viol):
        diffs.append("relaunch changed the checkpoint rows")
    return {"run_s": run.seconds, "relaunch_s": relaunch.seconds,
            "bytes": size, "files": files, "added": files_after - files,
            "cb_ms": cb.seconds / 20 * 1e3, "verdicts": verdicts,
            "n_viol": n_viol, "diffs": diffs}


def runner_layers(ctx: Ctx, cycles: List[dict], rows: int) -> None:
    def med(k):
        return median([c[k] for c in cycles])

    ctx.layers.update({
        "relaunch_s": med("relaunch_s"),
        "ckpt_bytes_per_doc": med("bytes") / rows,
        "plans.runner.ckpt_files": med("files"),
        "plans.runner.relaunch_files_written": med("added"),
        "plans.runner.completed_buckets_ms": med("cb_ms"),
    })


def pages_setup(ctx: Ctx, inp: PagesInputs, warmup: Callable[[], None]):
    with ctx.tracer.span("sources.pages.gen") as s:
        inp.write()
    ctx.layers["sources.pages.gen_s"] = s.seconds
    ctx.compile([r.spec for r in inp.plan().row_rules],
                schema=inp.table().schema)
    with ctx.tracer.span("warmup"):
        warmup()


def pages_scan(ctx: Ctx) -> Workload:
    inp = PagesInputs(ctx)
    first: dict = {}

    def timed(i):
        with ctx.tracer.span("plans.runner.run_plan") as s:
            verdicts, n_viol = suite_pass(inp)
        with ctx.tracer.span("check"):
            diffs = against_first(first, verdicts, n_viol, inp.oracle)
        return s.seconds, diffs

    def traced_extras():
        """The restricted passes, and the runner layer: one checkpoint
        cycle, whose rows must equal the suite's."""
        restricted_passes(ctx, inp)
        c = checkpoint_cycle(ctx, inp, ctx.path("ckpt"))
        runner_layers(ctx, [c], inp.n)
        return c["diffs"] + against_first(first, c["verdicts"], c["n_viol"],
                                          inp.oracle)

    return Workload(rows=inp.n, timed=timed, traced_extras=traced_extras,
                    setup=lambda: pages_setup(ctx, inp,
                                              lambda: suite_pass(inp)))


def pages_checkpoint(ctx: Ctx) -> Workload:
    """Not in BENCHMARK.json (see README.md): run it by name."""
    inp = PagesInputs(ctx)
    first: dict = {}
    cycles: List[dict] = []

    def timed(i):
        c = checkpoint_cycle(ctx, inp, ctx.path(f"ckpt-{i}"))
        cycles.append(c)
        with ctx.tracer.span("check"):
            diffs = c["diffs"] + against_first(first, c["verdicts"],
                                               c["n_viol"], inp.oracle)
        return c["run_s"], diffs

    def traced_extras():
        restricted_passes(ctx, inp)
        return []

    def extra_e2e():
        return {"relaunch_s": (median([c["relaunch_s"] for c in cycles]),
                               "s"),
                "ckpt_bytes_per_doc": (
                    median([c["bytes"] for c in cycles]) / inp.n, "bytes")}

    return Workload(
        rows=inp.n, timed=timed, traced_extras=traced_extras,
        setup=lambda: pages_setup(ctx, inp, lambda: checkpoint_cycle(
            ctx, inp, ctx.path("ckpt-warmup"))),
        after=lambda: runner_layers(ctx, cycles, inp.n),
        extra_e2e=extra_e2e)


def json_docs_df(spark, n: int, seed: int):
    """Nested web-record documents, a pure function of (seed, row id).

    About a third of the rows repeat an earlier document verbatim; link
    and score arrays have variable length, so most walk signatures differ.
    """
    from pyspark.sql import functions as F

    def u(stream: int, col: str = "eff"):
        h = F.xxhash64(F.col(col), F.lit(seed), F.lit(stream))
        return F.pmod(h, F.lit(1 << 30)) / float(1 << 30)

    def pick(stream: int, values):
        arr = F.array(*[F.lit(v) for v in values])
        return F.element_at(arr, (u(stream) * len(values)).cast("int") + 1)

    back = F.pmod(F.xxhash64("id", F.lit(seed), F.lit(99)), F.lit(50)) + 1
    repeat = (u(98, "id") < 1 / 3) & (F.col("id") >= back)
    base = (spark.range(0, n, numPartitions=8)
            .withColumn("eff", F.when(repeat, F.col("id") - back)
                        .otherwise(F.col("id"))))
    n_links = (u(3) * 7).cast("int")
    bad = (u(4) < 0.25) & (n_links > 0)
    bad_at = (u(5) * n_links).cast("int")

    def link(i):
        h = F.xxhash64(F.col("eff"), i, F.lit(seed))
        scheme = F.when(bad & (i == bad_at), F.lit("http://")).otherwise(
            F.lit("https://"))
        return F.struct(
            F.concat(scheme, F.lit("h"), F.pmod(h, F.lit(1000)).cast("string"),
                     F.lit(".example.com/")).alias("href"),
            F.when(F.pmod(h, F.lit(3)) == 0, F.lit("nofollow")).alias("rel"))

    raw = F.transform(
        F.sequence(F.lit(0), (u(6) * 12).cast("int") - 1),
        lambda i: F.pmod(F.xxhash64(F.col("eff"), i, F.lit(seed + 2)),
                         F.lit(100)))
    doc = F.to_json(F.struct(
        F.col("eff").alias("id"),
        pick(1, (200, 200, 200, 204, 301, 302, 304, 404, 410, 500))
        .alias("status"),
        pick(2, ("en", "en", "de", "fr", "zh", "es", "ja", "ru", "pt", "it"))
        .alias("lang"),
        F.transform(F.sequence(F.lit(0), n_links - 1), link).alias("links"),
        F.when(u(7) < 0.6, F.array_sort(raw)).otherwise(raw).alias("scores"),
    ))
    return base.select("id", doc.alias("doc"))


def json_docs(ctx: Ctx) -> Workload:
    from pyspark.sql import functions as F

    from katydid_haskell_spark.relapse.automaton import validate_json_column

    n = ctx.size["json"]
    path = ctx.path("json")
    first: dict = {}

    def validated(df, *keep):
        return df.select(*keep, *[
            validate_json_column(F.col("doc"), spec, fast=True).alias(name)
            for name, spec in JSON_SPECS.items()])

    def one_pass():
        got = observed_noop(validated(ctx.spark.read.parquet(path)), *[
            F.sum(F.col(k).cast("long")).alias(k) for k in JSON_SPECS])
        return {k: int(got[k]) for k in JSON_SPECS}

    def setup():
        with ctx.tracer.span("sources.json.gen"):
            json_docs_df(ctx.spark, n, ctx.seed).write.mode(
                "overwrite").parquet(path)
        ctx.compile(list(JSON_SPECS.values()), json_col=F.col("doc"))
        with ctx.tracer.span("warmup"):
            one_pass()

    def sample_check() -> List[str]:
        k = min(ctx.size["sample"], n)
        rows = validated(ctx.spark.read.parquet(path)
                         .filter(F.col("id") < k), "id", "doc").collect()
        diffs = checks.validator_sample(
            JSON_SPECS, [(r["id"], r["doc"]) for r in rows],
            {r["id"]: r.asDict() for r in rows})
        if len(rows) != k:
            diffs.append(f"sample has {len(rows)} of {k} rows")
        return diffs

    def timed(i):
        with ctx.tracer.span("relapse.automaton.validate_json_column") as s:
            counts = one_pass()
        with ctx.tracer.span("check"):
            if not first:
                first.update(counts)
                ctx.notes["match_rates"] = {
                    k: round(c / n, 4) for k, c in counts.items()}
                diffs = sample_check()
            else:
                diffs = [f"{k}: {counts[k]} != {first[k]}"
                         for k in JSON_SPECS if counts[k] != first[k]]
        return s.seconds, diffs

    def traced_extras():
        from pyspark.sql.functions import pandas_udf

        from katydid_haskell_spark.relapse.parser import parse_grammar
        from katydid_haskell_spark.relapse.smart import compile_grammar
        from katydid_haskell_spark.relapse.vpa import try_table_validator

        docs = [r["doc"] for r in ctx.spark.read.parquet(path)
                .filter(F.col("id") < ctx.size["vpa_sample"]).collect()]
        for name, spec in JSON_SPECS.items():
            tv = try_table_validator(compile_grammar(parse_grammar(spec)))
            tv.validate_batch(docs)  # grows the lazy tables
            with ctx.tracer.span(f"relapse.vpa.{name}") as s:
                for _ in range(3):
                    tv.validate_batch(docs)
            ctx.layers[f"relapse.vpa.batch_docs_per_sec.{name}"] = (
                3 * len(docs) / s.seconds)

        @pandas_udf("string")
        def identity(s):
            return s

        for _rep in range(2):
            with ctx.tracer.span("relapse.automaton.arrow_floor") as s:
                noop(ctx.spark.read.parquet(path).select(
                    identity(F.col("doc")).alias("doc")))
        ctx.layers["relapse.automaton.arrow_floor_s"] = s.seconds
        return []

    return Workload(rows=n, setup=setup, timed=timed,
                    traced_extras=traced_extras)


WORKLOADS = {"pages_scan": pages_scan, "json_docs": json_docs,
             "pages_checkpoint": pages_checkpoint}
