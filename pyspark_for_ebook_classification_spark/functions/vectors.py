"""Vector math over ``array<float>`` embedding columns (SURVEY.md §2.9 L3).

Cross-engine determinism strategy:
  * float elements are cast to DOUBLE first (exact);
  * each pairwise product is a DOUBLE multiply (IEEE-identical given
    identical operands);
  * the sum is a SEQUENTIAL LEFT FOLD in DOUBLE in both engines — Spark's
    ``aggregate(zip_with(...))`` and DuckDB's ``list_sum(list_transform(...))``
    both accumulate in index order, verified bit-identical on 20,000
    64-dim dots at sf0.1 (zero mismatches). DuckDB's ``list_dot_product``
    does NOT accumulate this way (all 20,000 differed) — never use it in
    an oracle.

An earlier revision accumulated in DECIMAL(38,12) for order-independence;
that was ~20× slower (interpreted decimal arithmetic per element) and
unnecessary given the fold-order guarantee above. Within one engine the
fold order is fixed per row, so results are also run-to-run stable on a
cluster regardless of partitioning — the fold is per-row, not an
aggregation across rows.

All expressions are built-in catalyst higher-order functions — no Python
in the hot path. At 100 TB, a dot product per row is a tight JVM loop over
a 64-float array: CPU-bound, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def spark_dot(a: str, b: str) -> Column:
    """Deterministic dot(a, b): double products, sequential double fold."""
    return F.expr(
        f"aggregate("
        f"  zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        f"  CAST(0 AS DOUBLE),"
        f"  (acc, v) -> acc + v"
        f")"
    )


def sql_dot(a: str, b: str, dim: int = 64) -> str:
    """The DuckDB rendering of :func:`spark_dot` (1-based list indexing)."""
    return (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def spark_cosine(a: str, b: str) -> Column:
    return spark_dot(a, b) / (F.sqrt(spark_dot(a, a)) * F.sqrt(spark_dot(b, b)))


def sql_cosine(a: str, b: str, dim: int = 64) -> str:
    return (
        f"{sql_dot(a, b, dim)} / (sqrt({sql_dot(a, a, dim)}) * sqrt({sql_dot(b, b, dim)}))"
    )


# ---------------------------------------------------------------- LSH planes
#
# Deterministic random-hyperplane LSH: plane weights come from a pure
# integer formula (an LCG step), so BOTH engines generate them inline —
# no seed-dependent library randomness, no literal blobs.
#     w(p, j) = ((1103515245 * (p*DIM + j) + 12345) % 2001 - 1000) / 1000.0
# Integer arithmetic is exact; /1000.0 is a correctly-rounded double in
# both. The projection sum is the same sequential double fold as above, so
# the >= 0 sign decision — and therefore the bucket — matches exactly.

N_PLANES = 8
DIM = 64

#: multi-table ANN parameters: L independent tables of r planes each.
#: Tuned on the driver embeddings (near-random, avg top-5 cosine ≈ 0.32):
#: L=4 × r=4 measures recall@5 ≈ 0.38 at ~24% candidate cost; a single
#: 8-plane table measures recall 0.00 on this data. On genuinely clustered
#: embeddings the same parameters get sharper, not worse.
N_TABLES = 4
PLANES_PER_TABLE = 4


def _weight(p: int, j: int) -> float:
    """w(p, j) computed in Python — integer LCG step then one IEEE double
    division, the exact value both engines' inline formulas produce."""
    return ((1103515245 * (p * DIM + j) + 12345) % 2001 - 1000) / 1000.0


def _spark_bit(col: str, p: int, dim: int) -> str:
    # Plane weights are injected as a constant double-array literal
    # (Catalyst constant-folds it once) instead of recomputing the LCG per
    # element per row — the interpreted modulo/divide chain was the hot
    # spot (~2.7s for 20k vectors at sf0.1; array literals cut it ~4×).
    # The fold is the same sequence of (product, add) IEEE ops as the
    # inline formula, so signatures — and oracle parity — are unchanged.
    # 'D' suffix: Spark parses bare decimal literals as DECIMAL, not DOUBLE.
    ws = ", ".join(f"{_weight(p, j)!r}D" for j in range(dim))
    return (
        f"CASE WHEN aggregate("
        f"  zip_with({col}, array({ws}), (x, w) -> CAST(x AS DOUBLE) * w),"
        f"  CAST(0 AS DOUBLE), (acc, v) -> acc + v"
        f") >= 0 THEN '1' ELSE '0' END"
    )


def _sql_bit(col: str, p: int, dim: int) -> str:
    return (
        f"CASE WHEN list_sum(list_transform(range(1, {dim + 1}),"
        f" i -> ((CAST(1103515245 AS BIGINT) * ({p} * {dim} + i - 1) + 12345) % 2001 - 1000) / 1000.0"
        f"   * CAST({col}[i] AS DOUBLE)"
        f")) >= 0 THEN '1' ELSE '0' END"
    )


def spark_lsh_bucket(
    col: str, n_planes: int = N_PLANES, dim: int = DIM, plane_offset: int = 0
) -> Column:
    """'0'/'1' bucket signature from planes [plane_offset, plane_offset+n)."""
    bits = [
        F.expr(_spark_bit(col, plane_offset + p, dim)) for p in range(n_planes)
    ]
    return F.concat(*bits)


def sql_lsh_bucket(
    col: str, n_planes: int = N_PLANES, dim: int = DIM, plane_offset: int = 0
) -> str:
    bits = ", ".join(_sql_bit(col, plane_offset + p, dim) for p in range(n_planes))
    return f"concat({bits})"


def sql_lsh_tables_union(src: str) -> str:
    """Oracle rendering: UNION ALL of one SELECT per table over ``src``
    (a relation exposing vec_id, embedding, nrm)."""
    selects = []
    for t in range(N_TABLES):
        bucket = sql_lsh_bucket(
            "embedding", PLANES_PER_TABLE, DIM, t * PLANES_PER_TABLE
        )
        selects.append(
            f"SELECT vec_id, embedding, nrm, {t} AS table_id, {bucket} AS bucket FROM {src}"
        )
    return "\n            UNION ALL\n            ".join(selects)


def spark_srp_code(col: str, n_planes: int, dim: int = DIM, plane_offset: int = 0) -> Column:
    """INTEGER sign-random-projection cell code: bit p set iff the plane-p
    projection is >= 0. Same LCG plane family (and therefore the same
    cross-engine bit-exactness argument) as the string buckets above, but
    packed into a BIGINT so cells can be probed by XOR-ing bit flips —
    the multi-probe trick string signatures can't express."""
    bits = " + ".join(
        f"(CASE WHEN aggregate("
        f"  zip_with({col}, array("
        + ", ".join(f"{_weight(plane_offset + p, j)!r}D" for j in range(dim))
        + f"), (x, w) -> CAST(x AS DOUBLE) * w),"
        f"  CAST(0 AS DOUBLE), (acc, v) -> acc + v"
        f") >= 0 THEN CAST({1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for p in range(n_planes)
    )
    return F.expr(bits)


def sql_srp_code(col: str, n_planes: int, dim: int = DIM, plane_offset: int = 0) -> str:
    """DuckDB rendering of :func:`spark_srp_code` (inline LCG weights)."""
    bits = " + ".join(
        f"(CASE WHEN list_sum(list_transform(range(1, {dim + 1}),"
        f" i -> ((CAST(1103515245 AS BIGINT) * ({plane_offset + p} * {dim} + i - 1) + 12345) % 2001 - 1000) / 1000.0"
        f"   * CAST({col}[i] AS DOUBLE)"
        f")) >= 0 THEN CAST({1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for p in range(n_planes)
    )
    return f"({bits})"
