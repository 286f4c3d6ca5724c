"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship panel query on sf0.001;
``queries()``/``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 plus the training-data-pipeline layer, each with a DuckDB
oracle. Implementation lives in ``sf_datalake_spark/``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sf_datalake_spark import (  # noqa: E402
    queries as queries_core,
    queries_analytics,
    queries_corpus,
    queries_ext,
    queries_graph,
    queries_mining,
    queries_prep,
    queries_rel,
    queries_sketch,
    queries_stats,
    queries_tpch,
)

# Each module declares one ordered REGISTRY table: name → (query
# function, DuckDB oracle SQL, or None for a rows-only query).  Modules
# merge in the order they were added, so a new module's entries append
# after every existing one and never reorder the pre-rotation registry.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}
for _mod in (queries_core, queries_ext, queries_rel, queries_corpus,
             queries_sketch, queries_tpch, queries_analytics,
             queries_mining, queries_stats, queries_graph, queries_prep):
    for _name, (_fn, _sql) in _mod.REGISTRY.items():
        QUERIES[_name] = _fn
        if _sql is not None:
            ORACLES[_name] = _sql

# Attestation ledger — DERIVED, not hand-maintained.  The driver caps
# each round's CORRECTNESS snapshot at the first 50 registry entries,
# so we rotate: names it has never checked go first (oracled ones ahead
# of rows-only ones), previously-attested names last.  "Attested" is
# computed from the committed CORRECTNESS_r*.json files themselves: a
# name is attested iff its LATEST driver snapshot is green (hash-green
# for oracled entries; executed with a row count for rows-only
# `no_oracle` entries).  A name whose latest snapshot is red rotates
# back to the FRONT for re-attestation.  This replaces the r01–r04
# hand-maintained frozenset, whose README mirror drifted (round-4
# verdict, "What's wrong" #1) — now the snapshots ARE the ledger.
_REPO_DIR = os.path.dirname(os.path.abspath(__file__))


def _attestation_state() -> tuple[frozenset, frozenset, frozenset]:
    """(attested, needs_refix, rows_only_attested) from the
    CORRECTNESS_r*.json latest-round state.  ``rows_only_attested`` is
    the subset of ``attested`` whose latest green row was the weaker
    executed-with-rows `no_oracle` class — if such a name LATER gains an
    oracle (a round-9 conversion), the rotation fronts it again so the
    next driver window re-attests it at hash strictness."""
    import glob as _glob
    import json as _json
    import re as _re

    latest: dict[str, tuple[int, dict]] = {}
    for path in sorted(_glob.glob(os.path.join(_REPO_DIR, "CORRECTNESS_r*.json"))):
        m = _re.search(r"r(\d+)", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                snap = _json.load(fh)
        except (OSError, ValueError):
            continue
        for name, v in snap.items():
            if not isinstance(v, dict):
                continue
            if name not in latest or rnd > latest[name][0]:
                latest[name] = (rnd, v)

    def _green(v: dict) -> bool:
        if v.get("err") == "no_oracle":
            return v.get("spark_rows") is not None
        return bool(v.get("hash_match")) and bool(v.get("rows_match")) and bool(v.get("schema_match"))

    attested = frozenset(k for k, (_, v) in latest.items() if _green(v))
    refix = frozenset(k for k, (_, v) in latest.items() if not _green(v))
    rows_only = frozenset(
        k for k in attested if latest[k][1].get("err") == "no_oracle"
    )
    return attested, refix, rows_only


_ATTESTED, _NEEDS_REFIX, _ROWS_ONLY_ATTESTED = _attestation_state()


def _rotated(allq: dict) -> dict:
    """Order the registry so the driver's 50-entry snapshot attests what
    no prior round saw: names whose latest snapshot was red first (their
    fix needs re-attestation), then never-attested+oracled, then
    never-attested rows-only, then the already-attested tail; registry
    order within each group."""
    front = [k for k in allq if k in _NEEDS_REFIX]
    # attested only at rows-only strictness but NOW oracled (a
    # conversion landed since the last snapshot): re-attest at hash
    # strictness before anything already hash-green
    upgraded = [
        k for k in allq
        if k in _ROWS_ONLY_ATTESTED and k in ORACLES and k not in front
    ]
    fresh_oracled = [
        k for k in allq
        if k not in _ATTESTED and k in ORACLES and k not in front
    ]
    fresh_rows_only = [
        k for k in allq
        if k not in _ATTESTED and k not in ORACLES and k not in front
    ]
    seen = set(front + upgraded + fresh_oracled + fresh_rows_only)
    attested = [k for k in allq if k in _ATTESTED and k not in seen]
    return {k: allq[k] for k in
            front + upgraded + fresh_oracled + fresh_rows_only + attested}


QUERIES = _rotated(QUERIES)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the (entity, period) monthly panel with lagged /
    moving-average revenue features and the 18-month failure label — the
    reference's core pipeline shape (panel → window features → target)
    re-expressed on the TPC-H-ish tables."""
    from pyspark.sql import functions as F

    from sf_datalake_spark.queries import customer_monthly_panel, q_target_variable
    from sf_datalake_spark.operators.windows import with_lag, with_moving_average

    sf_dir = "/root/testdata/sf0.001"
    panel = customer_monthly_panel(spark, sf_dir)
    panel = with_lag(panel, "revenue", [1, 3], keys=["custkey"], period_col="periode",
                     suffix_fmt="revenue_lag{n}m")
    panel = with_moving_average(panel, "revenue", [3], keys=["custkey"],
                                period_col="periode", suffix_fmt="revenue_mean{n}m")
    labels = q_target_variable(spark, sf_dir)
    return panel.join(labels, ["custkey", "periode"], "inner")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator (SURVEY.md §2 + training-data
    pipeline ops). Each callable takes (spark, sf_dir) → DataFrame."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each query."""
    return dict(ORACLES)
