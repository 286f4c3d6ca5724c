"""Output check: the strict, type-faithful, order-insensitive table hash
of ``tools/check_oracle.py --strict-hash``, computed column-wise on
Arrow tables so that panel outputs of 10^5-10^6 rows hash in about a
second instead of a Python loop per cell.

Equality semantics follow ``check_oracle.norm_cell`` in strict mode:
every cell is tagged with its value class (int, float, decimal, bool,
timestamp, date, string), so ``3`` and ``3.0`` differ; floats compare
at full precision with ``-0.0`` folded into ``0.0``; rows compare as a
multiset over the columns in name order.  Nested values fall back to
``norm_cell`` itself.

Also runnable as a script that prepares one (workload, seed) input dir:
generates it (``datagen.ensure_inputs``) and stores the DuckDB oracle
digests next to it, in a process of its own so that neither the
generator's nor DuckDB's memory lands in the benchmark's peak RSS.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc

ORACLE_FILE = "_oracle.json"


def _render(col: pa.ChunkedArray, naive_ts: bool) -> pa.ChunkedArray:
    """One column as type-tagged strings (null -> ``NULL``)."""
    t = col.type
    if pa.types.is_dictionary(t):
        col, t = col.cast(t.value_type), t.value_type
    if pa.types.is_boolean(t):
        s, tag = pc.cast(pc.cast(col, pa.int8()), pa.string()), "b:"
    elif pa.types.is_integer(t):
        s, tag = pc.cast(pc.cast(col, pa.int64()), pa.string()), "i:"
    elif pa.types.is_floating(t):
        s, tag = pc.cast(pc.add(pc.cast(col, pa.float64()), 0.0), pa.string()), "f:"
    elif pa.types.is_decimal(t):
        s, tag = pc.cast(col, pa.string()), "dec:"
    elif pa.types.is_timestamp(t):
        tz = "" if (naive_ts or t.tz is None) else "+tz"
        s = pc.cast(pc.cast(col, pa.timestamp("us", tz=t.tz)), pa.timestamp("us"))
        s, tag = pc.binary_join_element_wise(pc.cast(s, pa.string()), tz, ""), "ts:"
    elif pa.types.is_date(t):
        s, tag = pc.cast(pc.cast(col, pa.date32()), pa.string()), "d:"
    elif pa.types.is_string(t) or pa.types.is_large_string(t):
        s, tag = col, ""
    else:
        sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
        from check_oracle import norm_cell

        return pa.chunked_array([pa.array([norm_cell(v) for v in col.to_pylist()], pa.string())])
    s = pc.binary_join_element_wise(tag, s, "")
    return pc.fill_null(s, "NULL")


def table_digest(tbl: pa.Table, naive_ts: bool = False) -> str:
    """md5 over the sorted, ``|``-joined rendered rows, columns in name
    order.  ``naive_ts`` renders zoned timestamps as naive UTC wall time,
    as Spark's ``collect()`` does in a UTC Python process."""
    names = sorted(tbl.column_names)
    if not names:
        return hashlib.md5(b"").hexdigest()
    cols = [_render(tbl.column(n), naive_ts) for n in names]
    rows = pc.binary_join_element_wise(*cols, "|") if len(cols) > 1 else cols[0]
    rows = pc.take(rows, pc.sort_indices(rows))
    h = hashlib.md5()
    h.update("\n".join(rows.to_pylist()).encode())
    return h.hexdigest()


def summary(tbl: pa.Table, naive_ts: bool = False) -> dict:
    return {"rows": tbl.num_rows, "cols": sorted(tbl.column_names),
            "digest": table_digest(tbl, naive_ts)}


def compare(got: dict, want: dict) -> str | None:
    """None when the Spark summary matches the reference, else why not."""
    if got["cols"] != want["cols"]:
        return f"cols spark={got['cols']} ref={want['cols']}"
    if got["rows"] != want["rows"]:
        return f"rows spark={got['rows']} ref={want['rows']}"
    if got["digest"] != want["digest"]:
        return "value-hash mismatch"
    return None


def oracle_summaries(sf_dir: str, oracles: dict[str, str]) -> dict[str, dict]:
    """DuckDB result summary per oracled query, on the generated dir;
    an oracle that raises records its error instead."""
    import duckdb

    from datagen import TABLES

    # bounded, and spilling inside the work dir: the box is shared
    con = duckdb.connect(config={"memory_limit": "2GB", "threads": 4,
                                 "temp_directory": os.path.join(os.path.dirname(sf_dir), "duckdb_tmp")})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    out = {}
    for name, sql in oracles.items():
        try:
            out[name] = summary(con.execute(sql).fetch_arrow_table())
        except Exception as e:  # recorded and reported as a failed check
            out[name] = {"error": f"duckdb: {str(e)[:300]}"}
    con.close()
    return out


def main(argv: list[str]) -> int:
    """``verify.py WORKDIR WORKLOAD SCALE SEED QUERY...``: print the
    prepared sf dir; the oracle digests are in its ``_oracle.json``."""
    work, workload, scale, seed, *names = argv
    import datagen

    sf_dir = datagen.ensure_inputs(work, workload, scale, int(seed))
    path = os.path.join(sf_dir, ORACLE_FILE)
    if not os.path.exists(path):
        sys.path.insert(0, os.getcwd())
        import __spark_entry__

        oracles = __spark_entry__.oracle_sql()
        summ = oracle_summaries(sf_dir, {n: oracles[n] for n in names if n in oracles})
        with open(path + ".tmp", "w") as fh:
            json.dump(summ, fh)
        os.replace(path + ".tmp", path)
    print(sf_dir)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
