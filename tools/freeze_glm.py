"""Regenerate golem_spark/glm_frozen.py: the full-precision GLM path
coefficients at EVERY test scale factor (sf0.001/0.01/0.1), keyed by
the lineitem row count so the oracles' static SQL selects the right
goldens from the data itself and the whole glm_* surface verifies at
any of the three SFs with no golden swap. dev_ratio, held-out CV
scores, sigma_max AND the sorted-L1 KKT optimality certificate are
always RE-computed from the goldens in SQL; only the coefficient
values themselves are golden.

Run after any solver change:  python tools/freeze_glm.py

NOTE (r14): a full run regenerates EVERY golden, and run-to-run the
regenerated values drift at the 1e-15 level (partial-aggregation
summation order), which rewrites the oracle SQL constants of every glm
query and therefore rotates ALL their fingerprints — re-occupying
driver-window slots that stale queries need. After a scoped solver
change, merge selectively: keep the committed goldens for families
whose settings did not change and take only the changed entries (see
the r14 round notes for the merge recipe).

GUARD: refreezing is refused unless the statistical-oracle test subset
(OLS/IRLS/lasso/MLlib cross-checks — the INDEPENDENT ground truth for
coefficient values) passes in the same invocation. Without this, a
solver regression that still satisfies the SQL-side identities
(dev_ratio recompute, sigma_max) could be silently frozen into the
"oracle". Override for debugging only: --unsafe-skip-stat-oracles.
"""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# the tests that independently pin coefficient correctness; a refreeze
# that would encode a solver regression fails here first
STAT_ORACLE_TESTS = [
    "tests/test_gaussian.py",
    "tests/test_families.py",
    "tests/test_mllib_oracle.py",
    "tests/test_sparse_backend.py",
]


def run_stat_oracles() -> None:
    print("freeze guard: running statistical-oracle tests "
          f"({' '.join(STAT_ORACLE_TESTS)}) ...")
    res = subprocess.run(
        [sys.executable, "-m", "pytest", "-x", "-q", *STAT_ORACLE_TESTS],
        cwd=ROOT)
    if res.returncode != 0:
        sys.exit("freeze guard: statistical-oracle tests FAILED — refusing "
                 "to refreeze goldens from a solver that disagrees with the "
                 "independent oracles. Fix the solver (or pass "
                 "--unsafe-skip-stat-oracles to bypass for debugging).")
    print("freeze guard: statistical oracles green")

from pyspark.sql import functions as F

import numpy as np

from golem_spark.glm_queries import (GLM_SPECS, WIDE_P, WIDE_SPECS, _Q,
                                     _WIDE_Q, _wide_sparse_frame)
from golem_spark.path import owl
from golem_spark.session import get_spark, load_tables

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01",
           "/root/testdata/sf0.1"]
PINNED_SF_DIR = "/root/testdata/sf0.01"  # the serving-model slice


def freeze_one_sf(spark, sf_dir: str) -> tuple[int, dict]:
    """All four golden families at one scale factor, keyed by the
    lineitem row count (the oracles' HAVING COUNT(*) guard key)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    n_rows = li.count()
    li_b = li.withColumn(
        "is_r", F.when(F.col("l_returnflag") == "R", "R").otherwise("other"))

    frozen: dict[str, list[list[float]]] = {}
    for fam, spec in GLM_SPECS.items():
        src = li_b if fam == "binomial" else li
        fit = owl(df=src, feature_cols=spec["features"], label_col=spec["label"],
                  family=fam, sigma=spec["sigmas"], lam="bh", q=_Q,
                  **spec["owl_kwargs"])
        frozen[fam] = [
            [float(v) for v in fit.coefficients[:, :, k].ravel(order="F")]
            for k in range(fit.n_sigma)
        ]
        print(f"{sf_dir} {fam}: {fit.n_sigma} path points frozen")

    def wide_rows(fit):
        """Per path point: (dev_ratio, n_nonzero, intercepts-per-target,
        sparse nonzero (feature_idx, target, raw_value) triples) — the
        beta enters the oracle's grouped one-hot KKT certificate
        (_wide_kkt_sql) as a VALUES lookup, so only nonzeros are
        frozen."""
        rows = []
        for k in range(fit.n_sigma):
            co = fit.coefficients[:, :, k]          # (p+1, m) raw units
            nz = [(int(j), int(t), float(co[1 + j, t]))
                  for j in range(co.shape[0] - 1)
                  for t in range(co.shape[1])
                  if co[1 + j, t] != 0.0]
            rows.append((float(fit.deviance_ratio[k]),
                         int((np.abs(co[1:, :]) > 0).sum()),
                         tuple(float(v) for v in co[0, :]),
                         tuple(nz)))
        return rows

    wide_frozen: dict[str, list] = {}
    for fam, spec in WIDE_SPECS.items():
        fit = owl(df=_wide_sparse_frame(li, fam),
                  sparse_features=("idx", "val"), sparse_p=WIDE_P,
                  label_col="label", family=fam, sigma=spec["sigmas"],
                  lam="oscar", q=_WIDE_Q, **spec["owl_kwargs"])
        wide_frozen[fam] = wide_rows(fit)
        print(f"{sf_dir} wide {fam}: {fit.n_sigma} path points frozen")

    # ultrawide (p=10007) gaussian stress goldens
    from golem_spark.glm_queries import UW_P, _UW_SIGMAS, _uw_frame
    fit = owl(df=_uw_frame(li), sparse_features=("idx", "val"),
              sparse_p=UW_P, label_col="label", family="gaussian",
              sigma=_UW_SIGMAS, lam="oscar", q=_WIDE_Q)
    uw_frozen = {"gaussian": wide_rows(fit)}
    print(f"{sf_dir} ultrawide gaussian: {fit.n_sigma} path points frozen")

    # CV per-(fold, path-point) coefficients for the glm_cv_* queries:
    # the oracle recomputes fold membership, held-out scores AND the
    # per-fold KKT certificate in SQL; only these values are golden.
    from golem_spark.glm_queries import CV_SPECS, _cv_cells
    cv_frozen = {}
    for cv_fam, cv_sp in CV_SPECS.items():
        # warm=False: the freeze must fit COLD — warm-starting from the
        # previous goldens here would make re-freezing circular
        trained = _cv_cells(spark, sf_dir, cv_fam, warm=False)
        cv_q = float(cv_sp["q"])
        n_folds = int(cv_sp["number"])
        cv_frozen[cv_fam] = [
            [[float(v) for v in trained.cell_fits[(cv_q, fold, 0)]
              .coefficients[:, :, k].ravel(order="F")]
             for k in range(len(cv_sp["sigmas"]))]
            for fold in range(n_folds)
        ]
        print(f"{sf_dir} cv {cv_fam}: {n_folds} folds x "
              f"{len(cv_sp['sigmas'])} path points frozen")

    return n_rows, {"path": frozen, "wide": wide_frozen,
                    "uw": uw_frozen, "cv": cv_frozen}


def main() -> None:
    if "--unsafe-skip-stat-oracles" not in sys.argv:
        run_stat_oracles()
    spark = get_spark("freeze_glm")
    by_n: dict[int, dict] = {}
    pinned_n = None
    for sf_dir in SF_DIRS:
        n_rows, slices = freeze_one_sf(spark, sf_dir)
        by_n[n_rows] = slices
        if sf_dir == PINNED_SF_DIR:
            pinned_n = n_rows

    def write_by_n(fh, name: str, kind: str) -> None:
        fh.write(f"{name} = {{\n")
        for n in sorted(by_n):
            fh.write(f"    {n}: {{\n")
            for fam, rows in by_n[n][kind].items():
                if kind == "path":
                    fh.write(f"        {fam!r}: [\n")
                    for row in rows:
                        fh.write(f"            {row!r},\n")
                    fh.write("        ],\n")
                else:
                    fh.write(f"        {fam!r}: {rows!r},\n")
            fh.write("    },\n")
        fh.write("}\n\n")

    with open(os.path.join(ROOT, "golem_spark", "glm_frozen.py"), "w") as fh:
        fh.write('"""AUTO-GENERATED by tools/freeze_glm.py — frozen GLM path\n'
                 "goldens (full precision) PER SCALE FACTOR, keyed by the\n"
                 "lineitem row count. The unsuffixed names are the pinned\n"
                 f"sf0.01 slice (n = {pinned_n}): the constant serving model\n"
                 "embedded identically on both engines by the score/auc/\n"
                 'calibration/interp queries. Do not edit by hand."""\n\n')
        write_by_n(fh, "GLM_FROZEN_BY_N", "path")
        write_by_n(fh, "GLM_WIDE_FROZEN_BY_N", "wide")
        write_by_n(fh, "GLM_UW_FROZEN_BY_N", "uw")
        write_by_n(fh, "GLM_CV_FROZEN_BY_N", "cv")
        fh.write(f"GLM_FROZEN = GLM_FROZEN_BY_N[{pinned_n}]\n"
                 f"GLM_WIDE_FROZEN = GLM_WIDE_FROZEN_BY_N[{pinned_n}]\n"
                 f"GLM_UW_FROZEN = GLM_UW_FROZEN_BY_N[{pinned_n}]\n"
                 f"GLM_CV_FROZEN = GLM_CV_FROZEN_BY_N[{pinned_n}]\n")
    print("wrote golem_spark/glm_frozen.py "
          f"({len(by_n)} scale factors: {sorted(by_n)})")


if __name__ == "__main__":
    main()
