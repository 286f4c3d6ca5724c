"""Grid-density clustering — DBSCAN's grid approximation, composed
from the engine's own primitives (quantize → cell aggregate → cell
adjacency equi-join → connected components).

Training-data-pipeline operator (beyond the reference's surface):
embedding corpora need a cheap density clustering for topic buckets /
outlier triage; exact DBSCAN's ε-neighborhood join is the scale
killer. The grid variant (cells of side = ε, core = cell with ≥
min_pts, clusters = connected CORE cells over the 8-neighborhood)
bounds every step by the number of OCCUPIED CELLS, not points, and
every join is an equi-join on cell keys — the spatial-blocking story
of ``operators/geo.py`` applied to clustering.

Semantics (documented simplifications vs point-DBSCAN): density is
counted per cell (a point's ε-ball may straddle cells — grid density
under-counts near borders); points in non-core cells are NOISE
(-1), including DBSCAN's "border points". Deterministic, engine-exact
— the property the oracle gate needs and sampled DBSCAN lacks.

Cluster labels are the minimum encoded cell key of the component —
stable across runs/partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sf_datalake_spark.session import pinned

_ENC = 1_000_000  # cell-coordinate encoding base (|cell| < 500k each axis)


def grid_density_clusters(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    cell_micro: int = 500_000,
    min_pts: int = 5,
    dims: tuple[int, int] = (0, 1),
) -> DataFrame:
    """Label every row with its grid-density cluster (min encoded core
    cell key of the connected component) or -1 for noise.

    Projects ``vec_col`` onto two dimensions (``dims``, 0-based),
    micro-quantizes (round(x·1e6), HALF_UP), buckets into cells of
    side ``cell_micro``, marks cells with ≥ ``min_pts`` rows as core,
    links core cells within Chebyshev distance 1 (3×3 offsets exploded
    on one side, equi-join on the encoded key), and runs
    :func:`~sf_datalake_spark.operators.components.connected_components`
    over the CELL graph — whose size is occupied-cells, typically
    orders of magnitude below row count.
    """
    from sf_datalake_spark.operators.components import connected_components

    d0, d1 = dims

    def q(d: int) -> F.Column:
        return (
            F.round(
                F.element_at(F.col(vec_col), d + 1).cast("double")
                * 1_000_000
            ).cast("bigint")
        )

    # The packed bigint key (c0·_ENC + c1) is only injective while both
    # cell coordinates stay strictly inside (0, _ENC-1): a coordinate
    # at 0 with a j=-1 neighbor offset, or one at ≥ _ENC, bleeds into
    # the OTHER axis's digits and fabricates adjacencies (ADVICE r4).
    # Two guards: cell_micro must be large enough that the shifted
    # domain fits the base at all (±1000.0 coordinate range → ≥ 2000),
    # and a per-row assert_true catches data outside ±1000 at scan
    # time instead of silently mis-clustering.
    if cell_micro < 2 * 10**9 // _ENC:
        raise ValueError(
            f"cell_micro={cell_micro} too small for the packed-key "
            f"encoding base {_ENC} — coordinates would overflow an "
            f"axis; need >= {2 * 10**9 // _ENC}"
        )
    lo = cell_micro - 10**9           # cell coordinate >= 1
    hi = (_ENC - 1) * cell_micro - 10**9 - 1  # cell coordinate <= _ENC-2

    def _checked(c: F.Column) -> F.Column:
        return F.when(
            (c >= F.lit(lo)) & (c <= F.lit(hi)), c
        ).otherwise(
            F.raise_error(F.format_string(
                "grid_density_clusters: quantized coordinate %s outside "
                f"the packed-key domain [{lo}, {hi}] "
                f"(cell_micro={cell_micro})", c.cast("string")))
            .cast("bigint")
        )

    # integer floor-division via a positive shift (1e9 is a multiple of
    # any sane cell size) — no float ever touches the cell coordinate
    pts = (
        df.select(
            F.col(id_col),
            _checked(q(d0)).alias("q0"),
            _checked(q(d1)).alias("q1"),
        )
        .select(
            id_col,
            F.expr(
                f"((q0 + 1000000000L) div {int(cell_micro)}) * {_ENC}L"
                f" + ((q1 + 1000000000L) div {int(cell_micro)})"
            ).alias("cell_key"),
        )
    )
    cells = pts.groupBy("cell_key").agg(F.count("*").alias("n"))
    with pinned(cells.filter(F.col("n") >= min_pts).select("cell_key")) as core:
        offsets = [
            (i, j) for i in (-1, 0, 1) for j in (-1, 0, 1)
            if not (i == 0 and j == 0)
        ]
        nbrs = core.select(
            "cell_key",
            F.explode(
                F.array(
                    *[
                        F.col("cell_key") + F.lit(i * _ENC + j)
                        for (i, j) in offsets
                    ]
                )
            ).alias("nbr_key"),
        ).filter(F.col("cell_key") < F.col("nbr_key"))
        edges = nbrs.join(
            core.select(F.col("cell_key").alias("nbr_key")), "nbr_key"
        ).select("cell_key", "nbr_key")
        labels = connected_components(edges, src="cell_key", dst="nbr_key")
        core_labeled = (
            core.join(
                labels.withColumnRenamed("id", "cell_key"), "cell_key", "left"
            )
            .select(
                "cell_key",
                # isolated core cells have no adjacency edge: own key
                F.coalesce("component", "cell_key").alias("cluster"),
            )
            # CELL-sized (tiny) — pin it so the lazy point-level join
            # below never re-derives the cell pipeline after the
            # persisted core frame is released
            .localCheckpoint(eager=True)
        )
        return pts.join(F.broadcast(core_labeled), "cell_key", "left").select(
            id_col,
            F.coalesce("cluster", F.lit(-1)).cast("bigint").alias("cluster"),
        )
