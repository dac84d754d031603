"""from_json fast path: agreement with the automaton UDF + fallback rules."""

import pytest
from pyspark.sql import functions as F

from katydid_haskell_spark.relapse.automaton import (
    try_lower_json_spec,
    validate_json_column,
)
from katydid_haskell_spark.relapse.derive import Validator
from katydid_haskell_spark.relapse.labels import decode_json
from katydid_haskell_spark.relapse.parser import parse_grammar
from katydid_haskell_spark.relapse.smart import compile_grammar

DOCS = [
    '{"k": 87}',
    '{"k": 10}',
    '{"k": 50}',
    '{"j": 87}',            # field absent
    '{"k": "x"}',           # wrong type → error-as-false
    '{"k": null}',          # null → absent value node
    "{}",
    "not json",
    None,
    '{"k": 87, "extra": 1}',  # unknown fields ignored by field anchoring
    '{"k": 87.0}',            # integral float → Int label (Json.hs:42-44)
    '{"k": 1e10}',            # integral exponent → Int label
    '{"k": 1.5}',             # non-integral → Double label
    '{"k": "87"}',            # string never coerces to number
    '{"k": true}',
    '{"name": "ann", "k": 87}',
    "[1,2]",                  # top-level array: no field nodes
    '{"k": 9223372036854775808}',            # 2**63: past bigint
    '{"k": 123456789012345678901234567890}',  # Int label, DECIMAL variant
    '{"k": 1e300}',           # integral DOUBLE variant past bigint → Int
]

FAST_SPECS = [
    '.k >= 50',
    '(.k >= 50 & .k < 90)',
    '!(.k == 87)',
    '(.k == 87 | .name == "ann")',
    '.name ^= "a"',
    '.k != 87',
    '.k: -> type($int)',
]


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame([(d,) for d in DOCS], "doc string").cache()


@pytest.mark.parametrize("spec", FAST_SPECS)
def test_fast_matches_udf(spark, df, spec):
    fast = try_lower_json_spec(F.col("doc"), spec)
    assert fast is not None, f"{spec} should qualify for the fast path"
    got = df.select(
        fast.alias("fast"),
        validate_json_column(F.col("doc"), spec, fast=False).alias("udf"),
    ).collect()
    for doc, row in zip(DOCS, got):
        assert row["fast"] == row["udf"], (
            f"spec={spec} doc={doc!r}: fast={row['fast']} udf={row['udf']}"
        )


@pytest.mark.parametrize(
    "spec",
    [
        "k: >= 50",           # bare node: exactly-one-field semantics
        ".k: *",              # nullable child (matches absent-value nodes)
        ".items: (_: >= 1)*",  # nested/dynamic shape
        "*",                  # no fields at all
    ],
)
def test_non_qualifying_falls_back(spark, spec):
    assert try_lower_json_spec(F.col("doc"), spec) is None


NESTED_DOCS = [
    '{"a": {"b": 1}}',
    '{"a": {"b": 2}}',
    '{"a": {"b": 1, "c": 9}}',
    '{"a": {"x": {"b": 1}}}',     # too deep: b not a direct child
    '{"a": [{"b": 1}]}',          # array step: index-labeled children
    '{"a": "b"}',                 # scalar: leaf child, not a field node
    '{"a": null}',                # childless a node
    '{"a": {"b": null}}',         # childless b node
    '{"a": {"b": {"c": 1}}}',     # b is an object, not an int leaf
    '{"b": 1}',                   # missing intermediate
    '{}', None, "not json",
    '{"a": {"b": 1.0}}',          # integral float → Int label
    '{"a": {"b": "1"}}',          # string never coerces
    '{"a": {"b": true}}',
]

NESTED_SPECS = [
    '.a: .b == 1',
    '(.a: .b >= 1 & .a: .b < 5)',
    '!(.a: .b == 1)',
    '.a: .b: .c == 1',
    '(.a: .b == 1 | .b == 1)',
]


@pytest.mark.parametrize("spec", NESTED_SPECS)
def test_nested_path_fast_matches_udf(spark, spec):
    """Round 4: Contains chains lower to one variant path ($.a.b) — must
    agree with the automaton on every intermediate-step shape (arrays,
    scalars, nulls, depth mismatches)."""
    df = spark.createDataFrame([(d,) for d in NESTED_DOCS], "doc string")
    fast = try_lower_json_spec(F.col("doc"), spec)
    assert fast is not None, f"{spec} should qualify for the fast path"
    got = df.select(
        fast.alias("fast"),
        validate_json_column(F.col("doc"), spec, fast=False).alias("udf"),
    ).collect()
    for doc, row in zip(NESTED_DOCS, got):
        assert row["fast"] == row["udf"], (
            f"spec={spec} doc={doc!r}: fast={row['fast']} udf={row['udf']}"
        )


def _engine(spec):
    v = Validator(compile_grammar(parse_grammar(spec)))

    def verdict(doc):
        if doc is None:
            return False
        try:
            forest = decode_json(doc)
        except Exception:
            return False
        return v.validate(forest)
    return verdict


HIT = '{"k": 87, "links": [{"href": "https://a"}], "scores": [1, 60]}'
SHARED_DOCS = [
    HIT, None, HIT, "not json",
    '{"k": 123456789012345678901234567890, "scores": [3, 99999999999999999999999]}',
    '{"k": 87.0, "links": [{"href": "http://b"}], "scores": [87.0]}',
    "{}", "null", HIT,
    '{"links": [{"href": "https://c"}, {"href": "http://d"}], "scores": [60, 1]}',
    "not json", None, "null",
]
# three automaton specs (one negated) and one Variant-lowerable spec
SHARED_SPECS = {
    "links": '.links: (_: .href ^= "https://")*',
    "scores": ".scores: [(_: < 50)*, (_: >= 50)*]",
    "not_high": "!(.scores: (_: >= 50)*)",
    "k": ".k >= 50",
}


def test_shared_decode_several_specs_one_select(spark):
    """Every automaton spec on a column validates the same decoded batch
    (one decode per Arrow batch): duplicates, NULL, malformed text, a
    >64-bit int, 87.0, {} and null each get the engine's verdict."""
    for name, spec in SHARED_SPECS.items():
        lowered = try_lower_json_spec(F.col("doc"), spec) is not None
        assert lowered == (name == "k"), spec
    df = spark.createDataFrame([(d,) for d in SHARED_DOCS], "doc string")
    out = df.select(*[
        validate_json_column(F.col("doc"), spec, fast=True).alias(name)
        for name, spec in SHARED_SPECS.items()])
    # the three UDFs share one Python evaluation node, so one worker call
    # hands each of them the same batch Series
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    rows = out.collect()
    for name, spec in SHARED_SPECS.items():
        want = [_engine(spec)(d) for d in SHARED_DOCS]
        assert [r[name] for r in rows] == want, name


def test_shared_decode_two_columns_one_select(spark):
    """Two JSON columns in one select: each column's verdicts come from
    its own decode, never from the other column's."""
    a = SHARED_DOCS
    b = list(reversed(SHARED_DOCS))
    df = spark.createDataFrame(list(zip(a, b)), "a string, b string")
    specs = {k: SHARED_SPECS[k] for k in ("links", "scores")}
    rows = df.select(*[
        validate_json_column(F.col(c), spec).alias(f"{c}_{name}")
        for c in ("a", "b") for name, spec in specs.items()]).collect()
    for c, docs in (("a", a), ("b", b)):
        for name, spec in specs.items():
            want = [_engine(spec)(d) for d in docs]
            assert [r[f"{c}_{name}"] for r in rows] == want, (c, name)


def test_variant_guard_null_malformed_and_json_null(spark):
    """NULL and malformed documents match nothing, negated and != specs
    included, on the Variant path and the automaton path alike; JSON
    ``null`` is an empty forest (like ``{}``), so it satisfies the
    negation and not the != spec, on both paths."""
    docs = [None, "not json", "null"]
    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    for spec in ("!(.k == 87)", ".k != 87"):
        fast = try_lower_json_spec(F.col("doc"), spec)
        assert fast is not None, spec
        rows = df.select(
            fast.alias("fast"),
            validate_json_column(F.col("doc"), spec).alias("udf")).collect()
        want = [False, False, spec.startswith("!")]
        assert [_engine(spec)(d) for d in docs] == want
        assert [r["fast"] for r in rows] == want, spec
        assert [r["udf"] for r in rows] == want, spec
