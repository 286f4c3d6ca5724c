"""Registry invariants — the driver-contract guards that keep the
attestation rotation and the oracle pairing honest across rounds.

The attestation ledger is DERIVED from the committed CORRECTNESS_r*.json
snapshots (round-4 verdict asked for exactly this after the README's
hand-maintained mirror drifted), so these tests assert the derivation
itself plus the rotation shape the driver relies on.
"""

from __future__ import annotations

import glob
import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _snapshots():
    out = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        out[rnd] = json.load(open(path))
    return out


def test_registry_invariants():
    import __spark_entry__ as entry

    q = entry.queries()
    o = entry.oracle_sql()

    # every oracle belongs to a registered query
    assert set(o) <= set(q)
    # every query is callable; every oracle is non-trivial SQL
    assert all(callable(f) for f in q.values())
    assert all(isinstance(s, str) and "SELECT" in s.upper()
               for s in o.values())
    # the rotation contract, endgame-safe form (r07 verdict #3): every
    # entry needing attestation — red-latest refixes, then
    # never-attested — must sort BEFORE every already-attested entry.
    # (The old "front-50 ⊆ needing-attestation" form is unsatisfiable
    # once the backlog shrinks below the driver's 50-slot window.)
    names = list(q)
    needing = [n for n in names
               if n in entry._NEEDS_REFIX or n not in entry._ATTESTED]
    attested_tail = [n for n in names
                     if n in entry._ATTESTED and n not in entry._NEEDS_REFIX]
    if needing and attested_tail:
        last_needing = max(names.index(n) for n in needing)
        first_attested = min(names.index(n) for n in attested_tail)
        assert last_needing < first_attested, (
            f"attested entry at index {first_attested} precedes "
            f"needing-attestation entry at index {last_needing}"
        )
    # red-latest refixes must lead the WHOLE rotation (they are the
    # most urgent re-attestations)
    n_refix = sum(1 for n in names if n in entry._NEEDS_REFIX)
    assert all(n in entry._NEEDS_REFIX for n in names[:n_refix])
    # as long as the never-attested oracled pool exceeds the window, the
    # window must be all-oracled (rows-only entries would burn slots)
    fresh_oracled = [n for n in q if n not in entry._ATTESTED and n in o]
    if len(fresh_oracled) + len(entry._NEEDS_REFIX) >= 50:
        assert all(n in o for n in names[:50])
    # attested names must still exist (a rename would silently un-pin
    # the rotation)
    missing = {n for n in entry._ATTESTED if n not in q}
    assert not missing, f"attested names vanished from registry: {missing}"


def test_module_tables_declare_each_name_once():
    """Every ``sf_datalake_spark/queries*.py`` module declares one
    ``REGISTRY`` table of name → (query, oracle SQL or None).  A name
    declared in two tables would be silently shadowed by the merge, so
    the tables must add up to exactly the driver-visible registry; the
    rows-only names are exactly the ``None`` entries."""
    import importlib

    import __spark_entry__ as entry

    paths = sorted(glob.glob(os.path.join(REPO, "sf_datalake_spark", "queries*.py")))
    tables = [
        importlib.import_module(
            "sf_datalake_spark." + os.path.basename(p)[:-3]
        ).REGISTRY
        for p in paths
    ]
    assert len(tables) == 11
    declared = [name for t in tables for name in t]
    assert len(declared) == 306
    q = entry.queries()
    assert len(q) == 306 and set(q) == set(declared)

    oracles = {name: sql for t in tables for name, (_, sql) in t.items()}
    oracled = {name: sql for name, sql in oracles.items() if sql is not None}
    assert entry.oracle_sql() == oracled
    assert all(isinstance(sql, str) and "SELECT" in sql.upper()
               for sql in oracled.values())
    rows_only = set(oracles) - set(oracled)
    assert set(q) - set(oracled) == rows_only and len(rows_only) == 7


def test_registry_outputs_are_scalar_typed(spark):
    """Driver contract guard (r07 verdict #2): the driver canonicalizes
    results with pandas (``sort_values`` → ``factorize``), which cannot
    hash list/dict cells — r07's only two red rows (peak_detection,
    sketches) were exactly this, with value-correct answers rejected on
    output FORMAT.  Every registry query must therefore emit only
    scalar-typed columns: no ArrayType / MapType / StructType anywhere
    in the output schema.  Lazy queries only pay plan analysis here;
    the handful of documented eager (driver-adaptive / collect-inside)
    queries run at sf0.001, the smallest fixture.

    The same pass checks that building a query leaves no state behind
    in the session: no CacheManager entry (a pin that outlives the
    query) and no changed conf (a temporary setting that was not
    restored, or was restored as an explicit setting).  After each
    query the conf snapshot is restored and the cache cleared, so one
    query's leftovers do not hide the next one's."""
    from pyspark.sql import types as T

    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    bad, errs, leaks = {}, {}, {}
    for name, fn in entry.queries().items():
        confs = dict(spark.conf.getAll)
        try:
            schema = fn(spark, sf).schema
        except Exception as exc:  # noqa: BLE001 — collect all, report once
            errs[name] = repr(exc)[:200]
            schema = None
        now = dict(spark.conf.getAll)
        left = sorted(k for k in confs.keys() | now.keys()
                      if confs.get(k) != now.get(k))
        if not cache_manager.isEmpty():
            left.append("cache entry")
        if left:
            leaks[name] = left
        for k in now.keys() - confs.keys():
            spark.conf.unset(k)
        for k, v in confs.items():
            if now.get(k) != v:
                spark.conf.set(k, v)
        spark.catalog.clearCache()
        if schema is None:
            continue
        complex_cols = [
            f.name for f in schema.fields
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
        ]
        if complex_cols:
            bad[name] = complex_cols
    assert not errs, f"queries failed during schema build: {errs}"
    assert not leaks, f"queries left state in the session: {leaks}"
    assert not bad, (
        "non-scalar output columns would reach the driver's pandas "
        f"canonicalizer (unhashable cells): {bad}"
    )


def test_attestation_derivation_matches_snapshots():
    """_ATTESTED/_NEEDS_REFIX must be exactly the latest-round green/red
    partition of every name the driver has ever snapshotted."""
    import __spark_entry__ as entry

    latest = {}
    for rnd, snap in sorted(_snapshots().items()):
        for name, v in snap.items():
            latest[name] = v

    def green(v):
        if v.get("err") == "no_oracle":
            return v.get("spark_rows") is not None
        return bool(v.get("hash_match")) and bool(v.get("rows_match")) \
            and bool(v.get("schema_match"))

    want_green = {k for k, v in latest.items() if green(v)}
    want_red = set(latest) - want_green
    assert set(entry._ATTESTED) == want_green
    assert set(entry._NEEDS_REFIX) == want_red


def test_readme_ledger_matches_snapshots():
    """README's attestation ledger is generated (tools/gen_ledger.py).
    Round-8 verdict "what's wrong" #2: the test ASSERTS only — it never
    writes. Any divergence (a hand-edited README, a generator change)
    fails with the one regeneration command; pytest always leaves the
    working tree clean, and the explicit `python tools/gen_ledger.py`
    run is the single place the README mutates.

    Round-9 verdict "what's wrong" #1: the driver drops
    CORRECTNESS_r{N}.json AFTER the builder's last commit, so at every
    round boundary the committed ledger is stale BY CONSTRUCTION. That
    is a sequencing artifact, not drift — when the snapshots on disk
    reach past the round the committed ledger was derived from, this
    test SKIPS with the regeneration command instead of failing. Any
    divergence while the ledger is up-to-date with the snapshots (the
    state every builder commit is in) still fails hard."""
    import pytest

    import tools.gen_ledger as gen_ledger

    block = gen_ledger.build_block()
    readme = open(os.path.join(REPO, "README.md")).read()
    assert gen_ledger.BEGIN in readme and gen_ledger.END in readme, \
        "LEDGER markers lost from README.md"

    ledger_round = re.search(r"union r01–r(\d+)", readme)
    assert ledger_round, "ledger round marker lost from README.md"
    if int(ledger_round.group(1)) < max(_snapshots()):
        pytest.skip(
            "driver dropped a CORRECTNESS_r*.json newer than the last "
            "committed ledger regeneration (expected at every round "
            "boundary) — run `python tools/gen_ledger.py` and commit"
        )
    assert block in readme, (
        "README ledger diverges from the CORRECTNESS snapshots + live "
        "registry — regenerate with `python tools/gen_ledger.py` and "
        "commit (tests never write; round-8 verdict #2)"
    )

    import __spark_entry__ as entry
    attested_n = len(entry._ATTESTED)
    total_n = len(entry.queries())
    oracled_n = len(entry.oracle_sql())
    marker = (f"driver-attested (union r01–r{max(_snapshots()):02d}): "
              f"{attested_n}/{total_n}")
    assert marker in readme
    assert f"{oracled_n} oracled" in readme


def test_attestation_state_latest_round_wins(tmp_path, monkeypatch):
    """Synthetic snapshots: a name green in r1 and red in r2 must land
    in needs-refix (front of the rotation); red-then-green lands in
    attested; rows-only entries count as attested once executed."""
    import __spark_entry__ as entry

    g = {"rows_match": True, "schema_match": True, "hash_match": True,
         "spark_rows": 5, "oracle_rows": 5, "err": None}
    r = {**g, "hash_match": False}
    ro = {"rows_match": None, "schema_match": None, "hash_match": None,
          "spark_rows": 7, "oracle_rows": None, "err": "no_oracle"}
    ro_dead = {**ro, "spark_rows": None}
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "green_then_red": g, "red_then_green": r, "stable_green": g,
        "rows_only_ok": ro, "rows_only_dead": ro_dead,
    }))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "green_then_red": r, "red_then_green": g,
    }))
    monkeypatch.setattr(entry, "_REPO_DIR", str(tmp_path))
    attested, refix, rows_only = entry._attestation_state()
    assert attested == {"red_then_green", "stable_green", "rows_only_ok"}
    assert refix == {"green_then_red", "rows_only_dead"}
    # the weaker class is tracked so a later oracle conversion fronts
    # the name for hash-strict re-attestation (round-9 rotation rule)
    assert rows_only == {"rows_only_ok"}
