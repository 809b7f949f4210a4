"""The local twin of the driver's t2 gate: run every registered query on
Spark AND its oracle SQL on DuckDB over the same parquet, compare
row-count + columns + exact canonicalized values. Rows-only queries
(oracle=None) are smoke-checked for schema stability and rows >= 0.
"""

from __future__ import annotations

import pytest

from pyspark_for_ebook_classification_spark.plans.registry import all_queries
from tests.compare import assert_frames_match

QUERIES = all_queries()
ORACLE_NAMES = sorted(n for n, q in QUERIES.items() if q.oracle is not None)
ROWS_ONLY_NAMES = sorted(n for n, q in QUERIES.items() if q.oracle is None)


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_parity(name, spark, duck, sf_dir):
    q = QUERIES[name]
    spark_pdf = q.fn(spark, sf_dir).toPandas()
    oracle_pdf = duck.sql(q.oracle).df()
    assert_frames_match(spark_pdf, oracle_pdf, name)


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_smoke(name, spark, sf_dir):
    q = QUERIES[name]
    df = q.fn(spark, sf_dir)
    n = df.count()
    assert n >= 0
    assert len(df.columns) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_contract_shape():
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) == len(QUERIES)


def test_priority_rotation_names_exist():
    """Every name in the driver-facing rotation list must be a registered
    query — a typo here would silently push a query out of its verification
    slot."""
    from pyspark_for_ebook_classification_spark.plans.registry import (
        _PRIORITY,
        all_queries,
    )

    qs = all_queries()
    missing = [n for n in _PRIORITY if n not in qs]
    assert not missing, missing
    assert len(set(_PRIORITY)) == len(_PRIORITY)  # no duplicate slots


def test_bench_and_evidence_names_exist():
    """bench.py's HEADLINE and EXTRA sets drive BENCH/SCALING/PLANS —
    a renamed query must fail here, not silently vanish from evidence."""
    import bench

    qs = QUERIES
    for name in bench.HEADLINE + bench.EXTRA:
        assert name in qs, name
    assert len(set(bench.HEADLINE + bench.EXTRA)) == len(
        bench.HEADLINE + bench.EXTRA
    )


def test_no_nested_output_columns(spark, duck, sf_dir):
    """Registry-wide structural guard against the r3 driver failure class:
    the driver's canonicalizer sorts raw pandas columns and cannot hash
    list/map/struct CELLS, so every oracle-checked query must emit scalar
    columns only — on BOTH engines (the pandas hash sees both results).
    Rows-only queries are exempt (the driver only counts their rows).
    Cited by docstrings at operators/scalar_funcs.py (fn_string_suite2)
    and operators/textops.py (text_inverted_index)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad = []
    for name in ORACLE_NAMES:
        q = QUERIES[name]
        for f in q.fn(spark, sf_dir).schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                bad.append(f"{name}.{f.name} (spark): {f.dataType.simpleString()}")
        rel = duck.sql(f"SELECT * FROM ({q.oracle}) LIMIT 0")
        for col, typ in zip(rel.columns, rel.types):
            t = str(typ)
            if t.endswith("[]") or t.startswith(("STRUCT", "MAP", "LIST", "UNION")):
                bad.append(f"{name}.{col} (oracle): {t}")
    assert not bad, "\n".join(bad)


#: CORRECTNESS files the CURRENT _PRIORITY front block was computed against.
#: Whoever recomputes the front block must extend this tuple to every file
#: present at that moment (r5-verdict ADVICE: pinning the basis makes a
#: partially stalled rotation — 49/50 re-verified — fail loudly instead of
#: slipping past an all-or-nothing check).
_ROTATION_BASIS = (
    "CORRECTNESS_r01.json",
    "CORRECTNESS_r02.json",
    "CORRECTNESS_r03.json",
    "CORRECTNESS_r04.json",
    "CORRECTNESS_r05.json",
    "CORRECTNESS_r06.json",
    "CORRECTNESS_r07.json",
    "CORRECTNESS_r08.json",
    "CORRECTNESS_r09.json",
    "CORRECTNESS_r10.json",
    "CORRECTNESS_r11.json",
    "CORRECTNESS_r12.json",
    "CORRECTNESS_r13.json",
    "CORRECTNESS_r14.json",
    "CORRECTNESS_r15.json",
)


def _verified_names(paths):
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out: set[str] = set()
    for p in paths:
        full = os.path.join(root, p)
        if os.path.exists(full):
            out |= set(json.load(open(full)))
    return out


def test_front_block_spends_slots_wisely():
    """No never-verified ORACLE-backed query may be displaced out of the
    driver's 50 hash-check slots by a rows-only or already-verified query —
    hash-match is the stronger verdict, so oracle-backed debt drains first.
    Rows-only names may occupy front slots only once fewer than 50
    oracle-backed queries remain unverified (the r6 endgame). Auto-relaxes
    after closure: with zero unverified oracle-backed queries the front
    block is the freshness rotation (registry bookkeeping note, r7+)."""
    basis = _verified_names(_ROTATION_BASIS)
    unverified_oracle = [n for n in QUERIES if QUERIES[n].oracle is not None and n not in basis]
    front = list(QUERIES)[:50]
    must_front = unverified_oracle[:50]
    missing = [n for n in must_front if n not in front]
    assert not missing, f"unverified oracle-backed queries pushed out of front 50: {missing}"
    if len(unverified_oracle) >= 50:
        assert all(QUERIES[n].oracle is not None for n in front)


def test_front_block_targets_never_verified():
    """The rotation must ADVANCE: r4 burned a driver round re-verifying
    r3's exact set because _PRIORITY wasn't rotated. Strict form (r5-verdict
    item 5 + ADVICE): the front block must have ZERO overlap with the
    verdicts it was computed against (_ROTATION_BASIS) — so even a
    partially stalled rotation fails — while files landing AFTER the basis
    (they will legitimately contain these names once the driver runs this
    block) don't trip it. Needs no edit in r7+: once every query has a
    verdict, recompute the block per the registry's post-closure policy and
    extend _ROTATION_BASIS; until someone forgets, the stall check below
    still catches a fully unrotated list."""
    import glob
    import os

    basis = _verified_names(_ROTATION_BASIS)
    if not basis:  # fresh checkout without driver artifacts
        pytest.skip("no CORRECTNESS files present")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    all_files = sorted(os.path.basename(p) for p in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")))
    all_verified = _verified_names(all_files)
    unverified = [n for n in QUERIES if n not in all_verified]
    front = list(QUERIES)[:50]
    if unverified:
        # Endgame form (r7): fewer than 50 names may remain unverified;
        # the zero-overlap rule then applies to the slots the unverified
        # names must fill — they must ALL sit before any basis-verified
        # freshness name, so the driver's 50-slot pass closes the book.
        k = min(len(unverified), 50)
        must = front[:k]
        stale = [n for n in must if n in basis]
        assert not stale, (
            "rotation stalled: front-block queries already verified in the "
            f"basis files {_ROTATION_BASIS[-1]}-and-earlier: {stale[:5]}..."
        )
        assert any(n in unverified for n in front), "front block contains no unverified query"
    else:
        # Book closed — front block is the freshness rotation. The
        # enforceable invariant (r6 self-review: the earlier
        # `not newer or front ⊆ all_verified` form was vacuously true
        # whenever this branch runs) is that the basis is CURRENT: every
        # CORRECTNESS file on disk must be pinned in _ROTATION_BASIS,
        # which forces whoever rotates post-closure to recompute the
        # front block against all evidence and extend the basis tuple.
        newer = [f for f in all_files if f not in _ROTATION_BASIS]
        assert not newer, (
            "book is closed but _ROTATION_BASIS is stale — recompute the "
            f"freshness front block and pin these files: {newer}"
        )


def test_priority_matches_rotation_script():
    """scripts/rotate_priority.py is, since r7, the ONLY way the front
    block changes (r6 verdict item 6 — hand-maintenance caused the r4
    wasted round). The script's derivation is a pure function of
    (registry, CORRECTNESS files); recompute it here and require the
    pasted _PRIORITY front block to equal it exactly. When a driver round
    lands a new CORRECTNESS file, this fails until the human re-runs the
    script, pastes the new block, and extends _ROTATION_BASIS — the same
    moment the stall guards above demand it."""
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "rotate_priority", os.path.join(root, "scripts", "rotate_priority.py")
    )
    rp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rp)

    if not rp.correctness_files(root):
        pytest.skip("no CORRECTNESS files present")
    expected = rp.front_block(QUERIES, rp.last_verdicts(root))
    actual = list(QUERIES)[: len(expected)]
    assert actual == expected, (
        "front block drifted from scripts/rotate_priority.py output — "
        "re-run the script and paste its block into plans/registry.py. "
        f"First divergence at slot {next(i for i, (a, b) in enumerate(zip(actual, expected)) if a != b)}: "
        f"{[(a, b) for a, b in zip(actual, expected) if a != b][:3]}"
    )


def test_pinned_tier_auto_prunes_after_fresh_verdict():
    """The PINNED re-attestation tier (r9) must drop out mechanically
    once the driver's fresh verdict lands — a pin satisfied by a
    CORRECTNESS_r09+ entry may not keep burning freshness slots in r10."""
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "rotate_priority", os.path.join(root, "scripts", "rotate_priority.py")
    )
    rp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rp)

    verdicts = rp.last_verdicts(root)
    pinned_names = [n for n, _ in rp.PINNED]
    now = rp.front_block(QUERIES, verdicts)
    # simulate the satisfying driver round PER PIN: each pinned name
    # gets a verdict at its own satisfied_round threshold
    satisfied = dict(verdicts, **{n: r for n, r in rp.PINNED})
    later = rp.front_block(QUERIES, satisfied)
    stale_still_front = [
        n for n in pinned_names if n in later[: len(rp.PINNED) + 10]
    ]
    assert not stale_still_front, (
        f"satisfied pins still occupy front slots: {stale_still_front}"
    )
    # and TODAY (verdicts still pre-threshold) unsatisfied pins are in
    # the block
    unsat = [n for n, r in rp.PINNED if verdicts.get(n, 0) < r]
    assert all(n in now for n in unsat)
