"""A/B harness for the prox-Newton Hessian-strategy crossover
(solvers.PN_LOCAL_H_LIMIT): time a wide sparse fit under the exact
local Hessian vs the fixed Bohning majorization and print the emitted
path rows so output equality is visible alongside the wall clock.

Usage: python tools/ab_wide_hessian.py <family> <limit> [sf_dir]
  e.g.  python tools/ab_wide_hessian.py binomial 200   # Bohning
        python tools/ab_wide_hessian.py binomial 1000  # exact Hessian

Round-4 measurements (sf0.1, local[32], same JVM, warm):
  binomial  200 -> 12.5s | 1000 -> 9.1s  (identical rows; 1000 shipped)
  multinomial 60 -> 11.9s | 2000 -> 11.3s (block payload 3x p^2 per
  pass for ~5% — Bohning kept)
"""

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import golem_spark.solvers as S
from golem_spark.glm_queries import glm_wide_query
from golem_spark.session import get_spark


def main() -> None:
    fam = sys.argv[1] if len(sys.argv) > 1 else "binomial"
    limit = int(sys.argv[2]) if len(sys.argv) > 2 else S.PN_LOCAL_H_LIMIT.get(fam, 200)
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    S.PN_LOCAL_H_LIMIT[fam] = limit
    spark = get_spark("ab_wide_hessian")
    q = glm_wide_query(fam)
    q(spark, "/root/testdata/sf0.01").collect()  # warm JVM + workers
    t0 = time.monotonic()
    rows = q(spark, sf_dir).collect()
    dt = time.monotonic() - t0
    print(f"fam={fam} limit={limit} time={dt:.2f}s "
          f"rows={[tuple(r) for r in rows]}")


if __name__ == "__main__":
    main()
