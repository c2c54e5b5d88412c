"""Check that two checkouts declare the same ``__spark_entry__`` contract.

The entry's ``queries()`` keys and ``oracle_sql()`` strings are the
recorded contract; a refactor of the query implementations must leave both
unchanged. Each checkout's ``__spark_entry__`` is imported in its own
interpreter, so the two never share modules.

Usage:

    git archive --prefix=parent/ HEAD~1 | tar x -C /tmp
    python tools/compare_entry.py /tmp/parent .

Exits 1 when the keys or any SQL string differ.
"""

from __future__ import annotations

import hashlib
import json
import subprocess
import sys

_DUMP = (
    "import json, __spark_entry__ as e; "
    "print(json.dumps({'sql': e.oracle_sql(), 'keys': list(e.queries())}))"
)


def contract(root: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _DUMP], cwd=root, check=True, capture_output=True, text=True
    ).stdout
    return json.loads(out)


def main(parent: str, change: str) -> int:
    a, b = contract(parent), contract(change)
    for side, c in (("parent", a), ("change", b)):
        digest = hashlib.sha256(json.dumps(c["sql"], sort_keys=True).encode()).hexdigest()
        print(f"{side}: {len(c['keys'])} queries, {len(c['sql'])} oracle_sql, sha256 {digest[:16]}")
    same_sql, same_keys = a["sql"] == b["sql"], a["keys"] == b["keys"]
    print(f"oracle_sql byte-identical: {same_sql}; queries() keys identical: {same_keys}")
    return 0 if same_sql and same_keys else 1


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:3]))
