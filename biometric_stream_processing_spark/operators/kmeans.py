"""Distributed Lloyd's k-means over embedding columns — the real
centroid step for the IVF coarse quantizer (replacing the "first k
vectors" stand-in; production ANN indexes train their cells this way).

Execution shape (the kmeans|| / MLlib pattern): the MODEL — k·dim
centroid doubles — lives on the driver between iterations; the DATA
never leaves the executors. Each iteration is one job: per-row
nearest-centroid assignment against the centroids inlined as LITERAL
arrays (a pure projection — no broadcast join, no window function, no
shuffle beyond the one keyed aggregation computing the per-cell
component means). Collecting O(k·dim) model state per iteration is
not a driver-side data loop; it is how every distributed k-means
ships its model, and it collapses what would be a join+rank stage
pair per iteration into a single map stage — measured ~2x faster
end-to-end at sf0.1 than the fully-declarative chained-DataFrame
variant, with an identical result.

Determinism contract (oracle-hashable across engines):

* assignment: cosine = left-fold dot / (left-fold norms); argmax via
  ``greatest(struct(ccos, -cid))`` — highest cosine, ties to the
  LOWEST cid, matching ``row_number() ORDER BY ccos DESC, cid``.
* means: ``double(sum(decimal(28,10) of round(x, 6)))/count`` —
  rounding to 6 decimals first makes the decimal cast EXACT (a
  6-decimal value always fits scale 10), removing the half-up vs
  half-even divergence Spark and DuckDB exhibit on raw float
  mantissas (measured: 1 in 32k elements differs without it). The
  decimal sum is order-independent.
* centroid norms are folded on the DRIVER in Python floats — IEEE
  doubles with the same left association, bit-identical to an
  engine-side fold.

Empty cells drop out (no members → no mean row) — k can shrink;
deterministic in both engines.

Round-6 perf note (measured at sf0.1, warm JIT): the round-5
reading (~3.8 s for the quality consumer, 5x DuckDB) was dominated
by py4j COLUMN CONSTRUCTION, not execution — building the k·d-term
scorer through the Column API cost ~1.0 s per pass (profiled:
construct 1.06 s, first collect 0.64 s, repeat 0.20 s), and the
quality run builds it three times (2 Lloyd iterations + final
assignment). Shipping the identical expression as ONE parsed SQL
string (``_with_best``) cuts the quality consumer to ~1.6 s warm
≈ 2.1x DuckDB's 0.76 s; the second consumer reads the persisted
assignment at ~0.1 s. What remains is the irreducible
model-exchange shape: 3 jobs (one per pass) × the ~0.2-0.4 s local
stage floor + ~0.2 s interpreted HOF evaluation each, against
DuckDB's ~0.25 s per unrolled CTE level with no job machinery.
Measured dead ends: fully unrolling the folds into literal
arithmetic (codegen compiles slower than the HOF interprets —
4.9 s vs 1.1 s per pass); persisting input vectors across
iterations (~0.1 s, scan is 3 % of the pass); the declarative
join-based iteration (2x slower); long-cents mean-sums (<0.3 s,
forces a full oracle rewrite). At real scale the fixed floor
amortizes; the passes themselves are embarrassingly parallel map
stages.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _with_best(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Adds ``_best`` = struct(best cosine ``c``, ``-cid`` ``n``) for
    ``vec_col`` against driver-held centroids: left-fold dot against
    each literal centroid array, argmax with lowest-cid tiebreak via
    struct ordering (``greatest`` ≡ ``row_number() ORDER BY c DESC,
    cid``).

    The whole scorer is ONE parsed SQL string, not a py4j-built
    Column tree: with k·d literal terms the Column-API construction
    alone cost ~1.0 s per pass at k=8/d=64 (measured round 6; 3
    passes per quality run), while parsing the identical ~20 KB
    expression JVM-side is ~0.05 s. The expression itself is
    unchanged — zip_with/aggregate left folds, so results are
    bit-identical (A/B verified). Fully UNROLLING the folds into
    literal arithmetic is a measured dead end: the ~1500-node codegen
    tree compiles slower than the interpreted HOF evaluates (4.9 s vs
    1.1 s per pass at sf0.1). The row norm binds once as ``_vn``
    (dropped on output) so the interpreted fold doesn't run k times.

    Centroid literals ship as ``CAST('<repr>' AS DOUBLE)`` — Python
    repr round-trips IEEE doubles exactly and Catalyst constant-folds
    the cast, so the task-side values are bit-identical to
    ``F.lit(float)``. Literal/dot emission is the shared
    ``functions/vec_sql`` fragment (same emitter as ``srp_bucket``);
    its ``cast(y as double)`` on the already-double literal array is
    a parser-level no-op, so scores are unchanged bit-for-bit."""
    from ..functions.vec_sql import dlit, sql_dot

    vn = (
        f"sqrt(aggregate(transform({vec_col}, x -> cast(x as double) * "
        f"cast(x as double)), 0.0d, (a, x) -> a + x))"
    )
    scored = []
    for cid, cvec in cents:
        cn = math.sqrt(_pyfold_dot(cvec, cvec))
        dot = sql_dot(vec_col, cvec)
        scored.append(
            f"named_struct('c', {dot} / (_vn * {dlit(cn)}), "
            f"'n', {-cid})"
        )
    best = (
        f"greatest({', '.join(scored)})" if len(scored) > 1 else scored[0]
    )
    return (
        df.withColumn("_vn", F.expr(vn))
        .withColumn("_best", F.expr(best))
        .drop("_vn")
    )


def _pyfold_dot(a: list[float], b: list[float]) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def kmeans_centroids(
    vectors: DataFrame,
    seeds: DataFrame,
    n_iter: int,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cid_col: str = "cid",
) -> list[tuple[int, list[float]]]:
    """``n_iter`` Lloyd iterations from ``seeds`` (cid, vec); returns
    the refined model as driver-held ``[(cid, [component means])]``,
    sorted by cid. Use ``assign_cells`` to apply it."""
    cents = sorted(
        (r[0], [float(x) for x in r[1]])
        for r in seeds.select(cid_col, vec_col).collect()
    )
    for _ in range(n_iter):
        assigned = _with_best(
            vectors.select(vec_col), cents, vec_col
        ).select(
            (-F.col("_best")["n"]).alias("cell"), F.col(vec_col)
        )
        # posexplode → narrow (cell, pos) agg instead of one 64-wide
        # decimal agg: same shuffle volume (map-side partials either
        # way — k·dim rows), but the narrow agg stays out of the
        # codegen-compile hole the 64-column decimal agg digs
        # (measured 3x faster at sf0.1).
        means = (
            assigned.select(
                "cell", F.posexplode(vec_col).alias("pos", "_x")
            )
            .groupBy("cell", "pos")
            .agg(
                F.sum(
                    F.round(F.col("_x").cast("double"), 6)
                    .cast("decimal(28,10)")
                ).cast("double").alias("_s"),
                F.count("*").alias("_n"),
            )
            .collect()
        )
        sums: dict[int, dict[int, float]] = {}
        counts: dict[int, int] = {}
        for r in means:
            sums.setdefault(r["cell"], {})[r["pos"]] = r["_s"]
            counts[r["cell"]] = r["_n"]
        cents = sorted(
            (c, [sums[c][i] / counts[c] for i in range(dim)])
            for c in sums
        )
    return cents


def assign_cells(
    vectors: DataFrame,
    cents: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Final (id, cell) assignment for a trained model — one map
    stage, no shuffle."""
    return _with_best(
        vectors.select(id_col, vec_col), cents, vec_col
    ).select(F.col(id_col), (-F.col("_best")["n"]).alias("cell"))


def assignment_with_cos(
    vectors: DataFrame,
    cents: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The full (id, cell, cos) final assignment — the single map
    stage both index artifacts derive from: the cell layout
    (``assign_cells``' projection) and the quantizer-quality report
    (``quality_from_assignment``'s input). A real index build
    computes this pass ONCE and ships both; callers running both
    should persist this frame (see
    ``plans/documents_ops.shared_kmeans_assignment``)."""
    return _with_best(
        vectors.select(id_col, vec_col), cents, vec_col
    ).select(
        F.col(id_col),
        (-F.col("_best")["n"]).alias("cell"),
        F.col("_best")["c"].alias("_cos"),
    )


def quality_from_assignment(assigned: DataFrame) -> DataFrame:
    """Quantizer evaluation for a trained model: per final cell, the
    member count and the mean cosine of members to their centroid,
    over a prebuilt (id, cell, _cos) assignment frame — lets the
    expensive map stage be shared with the cell-layout consumer.

    Determinism: the member cosine is rounded at 6 dp BEFORE an exact
    DECIMAL sum (order-independent), and the mean divides by the
    exact count. One k-row aggregation."""
    return assigned.groupBy("cell").agg(
        F.count("*").alias("n_members"),
        F.round(
            F.sum(
                F.round(F.col("_cos"), 6).cast("decimal(28,10)")
            ).cast("double") / F.count("*"),
            6,
        ).alias("mean_cos"),
    )
