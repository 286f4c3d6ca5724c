"""Print the driver-visible registry: the query names in ``queries()``
order, then ``name sha256(oracle SQL)`` for every ``oracle_sql()`` entry,
sorted by name (callers look oracles up by name, so their order is not
part of the contract).

Run from the repo root: ``python plans/registry/dump_registry.py``.
"""

import hashlib
import os
import sys

sys.path.insert(0, os.getcwd())

import __spark_entry__ as entry  # noqa: E402

q = entry.queries()
o = entry.oracle_sql()
print(f"# queries() order: {len(q)} names")
for name in q:
    print(name)
print(f"# oracle_sql(): {len(o)} names, sha256 of the SQL")
for name in sorted(o):
    print(name, hashlib.sha256(o[name].encode()).hexdigest())
