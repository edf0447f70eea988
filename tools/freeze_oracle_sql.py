"""Dump the live oracle_sql() declarations to tests/oracle/queries/
(one .sql file per query) — the frozen, reviewable record of exactly
what DuckDB runs in the correctness gate.

Run after adding or changing any oracle:  python tools/freeze_oracle_sql.py
"""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry

OUT = os.path.join(ROOT, "tests", "oracle", "queries")


def main() -> None:
    sqls = entry.oracle_sql()
    os.makedirs(OUT, exist_ok=True)
    for old in os.listdir(OUT):
        if old.endswith(".sql"):
            os.remove(os.path.join(OUT, old))
    for name, sql in sorted(sqls.items()):
        with open(os.path.join(OUT, f"{name}.sql"), "w") as fh:
            fh.write(sql.strip() + "\n")
    print(f"wrote {len(sqls)} files to {OUT}")


if __name__ == "__main__":
    main()
