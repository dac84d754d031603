"""Table-VPA path (relapse/vpa.py): the int-table walker + vectorized
condition evaluation must agree with the pure derivative engine on every
shape — corpus, randomized JSON fuzz, and per-condition stdlib parity.
No Spark needed: TableValidator.validate_batch is plain Python/numpy."""

import json
import os
import random

import numpy as np
import pytest

from katydid_haskell_spark.relapse.derive import Validator
from katydid_haskell_spark.relapse.labels import (
    BOOL,
    DOUBLE,
    INT,
    STRING,
    UINT,
    Label,
    decode_json,
)
from katydid_haskell_spark.relapse.exprs import eval_bool_or_false
from katydid_haskell_spark.relapse.parser import parse_grammar
from katydid_haskell_spark.relapse.smart import compile_grammar
from katydid_haskell_spark.relapse.vpa import (
    CondBatch,
    TableValidator,
    collect_conds,
    decode_batch,
    try_table_validator,
)

CORPUS = os.path.join(os.path.dirname(__file__), "corpus")


def _engine_verdict(v, doc):
    if doc is None:
        return False
    try:
        forest = decode_json(doc)
    except Exception:
        return False
    return v.validate(forest)


@pytest.mark.parametrize("name", sorted(
    d for d in os.listdir(CORPUS)
    if os.path.exists(os.path.join(CORPUS, d, "spec.relapse"))))
def test_vpa_matches_engine_on_corpus(name):
    d = os.path.join(CORPUS, name)
    with open(os.path.join(d, "spec.relapse")) as f:
        spec = f.read().strip()
    with open(os.path.join(d, "rows.jsonl")) as f:
        docs = [line.strip() for line in f if line.strip()]
    g = compile_grammar(parse_grammar(spec))
    tv = try_table_validator(g)
    assert tv is not None, f"{name}: corpus grammar must be table-walkable"
    v = Validator(g)
    want = [_engine_verdict(v, doc) for doc in docs]
    got = list(tv.validate_batch(docs))
    assert got == want, f"{name}: vpa={got} engine={want}"


FUZZ_SPECS = [
    ".k >= 50",
    'p: [a:*, b:*]',
    "p: {a:*; (b:*)?; (c:*)*}",
    "items: ._: .x == 1",
    "rows: (_: (_: -> type($int))*)*",
    "a: b: c: == 3",
    "!(p: {a:*; b:*})",
    '(.url ^= "https://" & .lang *= []string{"en","de"})',
    '.name ~= "^[a-z]+$"',
    '.n: -> or(eq($int, 5), gt($double, double(0.5)))',
    '.tags: (_: ^= "t")*',
    '.flag == true',
    '.s: -> not(hasSuffix($string, "x"))',
    '.s: -> eq(toLower($string), "en")',
]


def _rand_json(rng, depth=3):
    r = rng.random()
    if depth == 0 or r < 0.3:
        return rng.choice([
            None, True, False, 0, 5, 50, 60, -3, 2**70, 0.5, 3.0, "x",
            "en", "EN", "t1", "https://a.b", "tx", "", 1e308,
        ])
    if r < 0.65:
        keys = rng.sample(["a", "b", "c", "k", "p", "url", "lang", "n",
                           "s", "x", "name", "tags", "flag", "items",
                           "rows"], rng.randrange(1, 4))
        return {k: _rand_json(rng, depth - 1) for k in keys}
    return [_rand_json(rng, depth - 1) for _ in range(rng.randrange(0, 4))]


def test_vpa_fuzz_matches_engine():
    rng = random.Random(13)
    docs = [json.dumps(_rand_json(rng)) for _ in range(120)]
    docs += [None, "not json", "{}", "[]", "5", '"s"', "true",
             '[1, 2.5, "x"]', '{"k": 2e400}']
    for spec in FUZZ_SPECS:
        g = compile_grammar(parse_grammar(spec))
        tv = try_table_validator(g)
        assert tv is not None, spec
        v = Validator(g)
        want = [_engine_verdict(v, doc) for doc in docs]
        got = list(tv.validate_batch(docs))
        assert got == want, f"{spec!r}: first diff at " + str(next(
            (i, docs[i], got[i], want[i])
            for i in range(len(docs)) if got[i] != want[i]))


def test_vpa_signature_factorization_walks_once():
    """Docs with identical (structure, symbol) signatures must share ONE
    walk — including docs whose texts differ but whose labels collapse to
    the same condition bitmasks (the all-unique-corpus optimization)."""
    g = compile_grammar(parse_grammar(".k >= 50"))
    tv = TableValidator(g)
    walks = []
    orig = tv._walk

    def counting_walk(m):
        walks.append(1)
        return orig(m)

    tv._walk = counting_walk
    # 100 docs, all-unique values, but only two signature classes
    # (k >= 50 vs k < 50)
    docs = ['{"k": %d}' % v for v in range(100)]
    got = list(tv.validate_batch(docs))
    assert got == [v >= 50 for v in range(100)]
    assert len(walks) == 2


def test_vpa_many_conditions_stays_on_table_path():
    """>63 distinct conditions used to demote to the per-doc Validator;
    multi-word masks keep the table path engaged (round 5)."""
    spec = "(" + " | ".join(f'.f{i} == {i}' for i in range(70)) + ")"
    g = compile_grammar(parse_grammar(spec))
    tv = try_table_validator(g)
    assert tv is not None
    v = Validator(g)
    docs = [json.dumps({"f64": 64}), json.dumps({"f64": 63}),
            json.dumps({"f0": 0}), json.dumps({})]
    want = [_engine_verdict(v, d) for d in docs]
    assert want == [True, False, True, False]
    assert list(tv.validate_batch(docs)) == want


def test_condbatch_vectorized_matches_scalar_eval():
    """Every vectorized condition form must agree with the scalar
    eval_bool_or_false over labels of EVERY type (error-as-false parity)."""
    spec_conds = [
        '.a == "en"', ".a == 5", ".a == double(0.5)", ".a == true",
        ".a != 5", ".a >= 5", ".a > 5", ".a <= 5", ".a < 5",
        '.a ^= "ht"', '.a $= "tp"', '.a *= "t"',
        '.a *= []string{"en","de"}', ".a *= []int{1,2,3}",
        '.a ~= "^[a-z]+$"',
        ".a: -> type($string)", ".a: -> type($int)",
        ".a: -> not(eq($int, 5))",
        ".a: -> and(ge($int, 0), lt($int, 10))",
        ".a: -> or(eq($string, \"en\"), eq($string, \"de\"))",
        ".a: -> or(eq($bool, true), not(eq($string, \"x\")))",
        ".a: -> eq(toLower($string), \"en\")",  # vectorized chain (r4)
        ".a: -> eq(length($string), 2)",        # vectorized chain (r4)
    ]
    labels = [
        Label(STRING, "en"), Label(STRING, "EN"), Label(STRING, "de"),
        Label(STRING, "http"), Label(STRING, "tp"), Label(STRING, ""),
        Label(STRING, "x5"),
        Label(INT, 5), Label(INT, 0), Label(INT, -7), Label(INT, 2**70),
        Label(UINT, 5), Label(DOUBLE, 0.5), Label(DOUBLE, -1.5),
        Label(BOOL, True), Label(BOOL, False),
    ]
    conds = []
    for s in spec_conds:
        g = compile_grammar(parse_grammar(s))
        got = collect_conds(g)
        conds.extend(c for c in got if c.has_var)
    # dedupe, cap at 63
    seen, uniq = set(), []
    for c in conds:
        if c not in seen:
            seen.add(c)
            uniq.append(c)
    uniq = uniq[:63]
    cb = CondBatch(uniq)
    masks = cb.masks(labels)
    for bit, cond in enumerate(uniq):
        want = [eval_bool_or_false(cond, l) for l in labels]
        got = [bool((int(m) >> bit) & 1) for m in masks]
        assert got == want, f"cond {cond}: vec={got} scalar={want}"


def test_shared_decode_matches_per_document_validation():
    """One decode serves every spec: with verbatim duplicates, NULL and
    malformed text in the batch, each spec's verdicts on the shared
    decode equal validating each document alone and the engine's, and no
    spec (a condition-minting one included) changes the decode."""
    hit = '{"tags": ["x", "xy"], "k": 87, "p": {"a": 1, "b": 2}}'
    docs = [hit, None, hit, "not json", '{"k": 2e400}', "{}", "null",
            '{"tags": ["xy", "x"], "k": 123456789012345678901234567890}',
            hit, "not json", None, '{"p": {"b": 2, "a": 1}, "k": 87.0}']
    batch = decode_batch(docs)
    assert batch.n_texts == len({d for d in docs if d is not None})
    before = (batch.codes.copy(), batch.events.copy(), list(batch.spans),
              batch.tys.copy(), list(batch.vals))
    for spec in (".k >= 50", "p: [a:*, b:*]", "!(p: {a:*; b:*})",
                 '.tags: {_: == "x"; (_: == "t1")?; _: ^= "x"}'):
        g = compile_grammar(parse_grammar(spec))
        v = Validator(g)
        want = [_engine_verdict(v, d) for d in docs]
        tv = TableValidator(g)
        assert list(tv.validate_decoded(batch)) == want, spec
        assert list(tv.validate_batch(docs)) == want, spec
        alone = TableValidator(g)
        assert [bool(alone.validate_batch([d])[0]) for d in docs] == want
    after = (batch.codes, batch.events, batch.spans, batch.tys, batch.vals)
    for x, y in zip(before, after):
        assert np.array_equal(np.asarray(x, dtype=object),
                              np.asarray(y, dtype=object))


def test_decode_cache_reuses_only_the_same_series():
    """The UDF-side decode entry is keyed by object identity: the same
    Series object reuses its decode, an equal copy is decoded afresh."""
    import pandas as pd

    from katydid_haskell_spark.relapse import automaton

    s = pd.Series(['{"k": 1}', '{"k": 1}', None, '{"k": 60}'])
    d = automaton._decoded(s)
    assert automaton._decoded(s) is d
    copy = s.copy()
    d_copy = automaton._decoded(copy)
    assert d_copy is not d
    assert automaton._decoded(copy) is d_copy
    assert automaton._decoded(s) is not d_copy
    tv = TableValidator(compile_grammar(parse_grammar(".k >= 50")))
    assert list(tv.validate_decoded(d_copy)) == [False, False, False, True]


def test_vpa_tables_grow_lazily_and_are_reused():
    g = compile_grammar(parse_grammar("p: [a:*, b:*]"))
    tv = TableValidator(g)
    docs = ['{"p": {"a": 1, "b": 2}}', '{"p": {"b": 2, "a": 1}}']
    got1 = list(tv.validate_batch(docs))
    n_states = len(tv.states)
    n_calls = len(tv.call_cache)
    # replay: no new states or transitions
    got2 = list(tv.validate_batch(docs))
    assert got1 == got2 == [True, False]
    assert len(tv.states) == n_states
    assert len(tv.call_cache) == n_calls


def test_vpa_minted_condition_restart():
    """Leaf-node merges under Or/And MINT new condition exprs mid-walk
    (Smart.hs:318-332 analogue) — the batch must transparently register
    the new bit, recompute masks and restart, with verdicts identical to
    the engine (found by the dynamic-shape fuzz in round 4)."""
    spec = '.tags: {_: == "x"; (_: == "t1")?; _: ^= "x"}'
    g = compile_grammar(parse_grammar(spec))
    tv = try_table_validator(g)
    assert tv is not None
    n0 = len(tv.conds)
    docs = [json.dumps({"tags": t}) for t in (
        ["x", "xy"], ["xy", "x"], ["x", "t1", "xy"], ["x"],
        ["x", "x"], ["t1", "x"], [], None, ["x", "xy", "t1", "z"],
    )]
    v = Validator(g)
    want = [_engine_verdict(v, d) for d in docs]
    got = list(tv.validate_batch(docs))
    assert got == want
    assert len(tv.conds) > n0  # the walk really minted new conditions
    # second batch replays the grown tables with no further restarts
    assert list(tv.validate_batch(docs)) == want


def test_vpa_deep_vertical_recursion():
    """Vertical recursion (allowed per Smart.hs:46-47) at depths no fixed
    schema could unroll: a 60-level linked list walked by the table VPA
    must agree with the engine, including a violation planted mid-chain."""
    spec = "#main = .node: @chain\n#chain = {v: >= 0; (next: (@chain)?)?}"
    g = compile_grammar(parse_grammar(spec))
    tv = try_table_validator(g)
    assert tv is not None
    v = Validator(g)

    def _n(depth, bad_at=None):
        n = {"v": -1 if bad_at == depth else depth}
        if depth > 0:
            n["next"] = _n(depth - 1, bad_at)
        return n

    def chain(depth, bad_at=None):
        return json.dumps({"node": _n(depth, bad_at)})

    docs = [chain(60), chain(60, bad_at=23), chain(1), chain(0),
            chain(0, bad_at=0), json.dumps({"node": None})]
    want = [_engine_verdict(v, d) for d in docs]
    assert want == [True, False, True, True, False, False]  # hand-derived
    got = list(tv.validate_batch(docs))
    assert got == want


def test_vpa_multiword_masks_over_63_conditions():
    """A 100-branch grammar (200+ distinct conditions: one per field
    name, one per leaf value) exceeds one machine word — the table path
    must stay engaged via multi-word Python-int masks and agree with the
    per-doc engine."""
    branches = " | ".join(f".a{i} == {i}" for i in range(100))
    spec = f"#main = ({branches})"
    g = compile_grammar(parse_grammar(spec))
    conds = collect_conds(g)
    assert len(conds) > 63, len(conds)
    tv = try_table_validator(g)
    assert tv is not None, "wide grammars must stay on the table path"
    v = Validator(g)
    docs = (
        [json.dumps({f"a{i}": i}) for i in range(0, 100, 7)]    # matches
        + [json.dumps({f"a{i}": i + 1}) for i in range(0, 100, 13)]  # wrong v
        + [json.dumps({"b": 1}), json.dumps({}), None, "not json",
           json.dumps({"a5": 5, "junk": 0})]
    )
    want = [_engine_verdict(v, d) for d in docs]
    got = list(tv.validate_batch(docs))
    assert got == want
    assert any(want) and not all(want)
    # replay: grown tables, second batch, same verdicts
    assert list(tv.validate_batch(docs)) == want


def test_grammar_compile_budget_200_rules():
    """Perf canary: a 200-rule production-scale suite (parse + smart
    ctors + table build + first batch) must compile in bounded time.
    Best-of-3 with a wide budget — this box documents 2-3x noisy-neighbor
    swings (BENCH/BASELINE.md methodology), so a single wall-clock sample
    under a tight budget would flake with no compile-path regression.
    Typical best-of-3 is ~0.05s; the 10s gate only catches order-of-
    magnitude blowups (e.g. exponential smart-ctor growth)."""
    import time

    refs = "\n".join(
        f"#r{i} = .f{i} >= {i}" for i in range(1, 200))
    body = " | ".join(f"@r{i}" for i in range(1, 200))
    spec = f"#main = ({body})\n{refs}"
    docs = [json.dumps({f"f{i}": i}) for i in range(1, 200, 20)]
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        g = compile_grammar(parse_grammar(spec))
        tv = try_table_validator(g)
        assert tv is not None
        verdicts = list(tv.validate_batch(docs))
        best = min(best, time.perf_counter() - t0)
        assert all(verdicts)
    assert best < 10.0, f"200-rule compile+first-batch best-of-3 {best:.2f}s"
