"""Output checks that feed ``error_rate``.

- pages verdicts against a DuckDB recomputation of the rule SQL in
  ``oracles.pages_verdicts_sql`` over the same parquet input;
- every timed pass against the first timed pass;
- json_docs verdicts against the reference derivative ``Validator`` on a
  fixed sample.
"""

from __future__ import annotations

import math
import os
from typing import Dict, Iterable, List, Tuple

# url_distinct is an HLL estimate on the Spark side (DataSketches,
# lg_k=12: relative standard error 1.04/sqrt(4096) = 1.6%); accept three
# standard errors against the exact DuckDB count.
HLL_REL_TOL = 0.05
APPROX_RULES = {"url_distinct"}

VerdictKey = Tuple[int, str]


def verdict_map(rows: Iterable) -> Dict[VerdictKey, tuple]:
    """(bucket_id, rule_id) → (pass, metric, rows_checked); table-scope
    rows_checked NULL reads as 0, as in the oracle."""
    out = {}
    for r in rows:
        r = tuple(r)
        bucket_id, rule_id, ok, metric, rows_checked = r[:5]
        out[(int(bucket_id), str(rule_id))] = (
            bool(ok), None if metric is None else float(metric),
            int(rows_checked or 0))
    return out


def same_verdicts(a: Dict[VerdictKey, tuple], b: Dict[VerdictKey, tuple],
                  metric_abs_tol: float = 0.0,
                  approx: Tuple[str, ...] = ()) -> List[str]:
    """Differences between two verdict maps (empty list = equal)."""
    diffs = []
    for k in sorted(set(a) | set(b)):
        if k not in a or k not in b:
            diffs.append(f"{k}: present on one side only")
            continue
        (pa, ma, ra), (pb, mb, rb) = a[k], b[k]
        if pa != pb or ra != rb:
            diffs.append(f"{k}: pass/rows {pa},{ra} != {pb},{rb}")
        elif (ma is None) != (mb is None):
            diffs.append(f"{k}: metric {ma} != {mb}")
        elif ma is not None:
            tol = (HLL_REL_TOL * abs(mb)) if k[1] in approx else metric_abs_tol
            if not math.isclose(ma, mb, rel_tol=1e-9, abs_tol=max(tol, 1e-12)):
                diffs.append(f"{k}: metric {ma} != {mb}")
    return diffs


def duckdb_connect(work: str):
    import duckdb

    con = duckdb.connect()
    tmp = os.path.join(work, "duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute("SET threads TO 2")
    return con


def pages_oracle(work: str, pages_dir: str, base_dir: str, n_rows: int,
                 snapshot: str) -> Dict[VerdictKey, tuple]:
    """DuckDB verdicts over the benchmark's own pages/base parquet.

    ``pages_verdicts_sql`` reads its input through
    ``pages_fixture.ensure_pages_fixture``; pointing that lookup at the
    parquet the benchmark wrote makes the oracle read the same bytes the
    Spark passes read.
    """
    from katydid_haskell_spark import oracles
    from katydid_haskell_spark.sources import pages_fixture

    def same_parquet(n, seed=None, buckets=None, drifted=True, out_dir=None):
        return os.path.join(pages_dir if drifted else base_dir, "*.parquet")

    real = pages_fixture.ensure_pages_fixture
    pages_fixture.ensure_pages_fixture = same_parquet
    try:
        sql = oracles.pages_verdicts_sql(n_rows=n_rows, snapshot=snapshot)
    finally:
        pages_fixture.ensure_pages_fixture = real
    con = duckdb_connect(work)
    try:
        rows = con.execute(
            f"SELECT bucket_id, rule_id, pass, metric, rows_checked "
            f"FROM ({sql})").fetchall()
    finally:
        con.close()
    return verdict_map(rows)


def check_against_oracle(spark_rows: Dict[VerdictKey, tuple],
                         oracle_rows: Dict[VerdictKey, tuple]) -> List[str]:
    """The oracle rounds metrics to 6 places; round the Spark side too."""
    rounded = {k: (p, None if m is None else round(m, 6), r)
               for k, (p, m, r) in spark_rows.items()}
    return same_verdicts(rounded, oracle_rows, metric_abs_tol=2e-6,
                         approx=tuple(APPROX_RULES))


def checkpoint_rows(work: str,
                    ckpt: str) -> Tuple[Dict[VerdictKey, tuple], int]:
    """Verdict rows and violation count written under a checkpoint dir."""
    con = duckdb_connect(work)
    try:
        verdicts = con.execute(
            "SELECT bucket_id, rule_id, pass, metric, rows_checked FROM "
            f"read_parquet('{ckpt}/verdicts/**/*.parquet', "
            "hive_partitioning=true)").fetchall()
        n_viol = con.execute(
            "SELECT COUNT(*) FROM "
            f"read_parquet('{ckpt}/violations/*.parquet')").fetchone()[0]
    finally:
        con.close()
    if len(verdicts) != len({(r[0], r[1]) for r in verdicts}):
        raise AssertionError("duplicate (bucket_id, rule_id) verdict rows")
    return verdict_map(verdicts), int(n_viol)


def validator_sample(specs: Dict[str, str], docs: List[Tuple[int, str]],
                     spark_verdicts: Dict[int, Dict[str, bool]]) -> List[str]:
    """Reference derivative Validator vs the Spark verdicts, per doc."""
    from katydid_haskell_spark.relapse.derive import Validator
    from katydid_haskell_spark.relapse.labels import decode_json
    from katydid_haskell_spark.relapse.parser import parse_grammar
    from katydid_haskell_spark.relapse.smart import compile_grammar

    diffs = []
    for name, spec in specs.items():
        v = Validator(compile_grammar(parse_grammar(spec)))
        for doc_id, doc in docs:
            want = v.validate(decode_json(doc))
            got = spark_verdicts[doc_id][name]
            if want != got:
                diffs.append(f"{name} doc {doc_id}: spark {got} != {want}")
    return diffs
