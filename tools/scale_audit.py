"""Automated 100 TB plan audit: walk every queries() entry's physical
plan and flag scale smells — the checks a reviewer runs by hand:

- window-over-single-partition: a Window whose subtree contains
  Exchange SinglePartition (the whole input on one task);
- cartesian: CartesianProduct / non-broadcast nested-loop joins;
- final global sorts (.orderBy for deterministic output) are NOT
  flagged — they range-partition and exist for result presentation.

Usage: python tools/scale_audit.py [sf_dir] [--json=PATH]
Exit code 0 always (informational); the JSON artifact records every
query's flags so a round-over-round diff shows plan regressions.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod
from golem_spark.session import get_spark


def audit_plan(plan: str) -> list[str]:
    """Flag plan shapes that break at corpus scale. An UNPARTITIONED
    window (windowspecdefinition whose first argument is already an
    ordering spec) moves its whole input onto one task — the real
    smell; partitioned windows with scalar aggs in their subtree are
    fine. BroadcastNestedLoopJoin is reported informationally: scalar
    crossJoin(broadcast(1-row)) frames legitimately compile to it, so
    its value is in round-over-round DIFFS, not absolutes."""
    import re

    flags = []
    for m in re.finditer(r"windowspecdefinition\(([^,)]+)", plan):
        first_arg = m.group(1).strip()
        if " ASC" in first_arg or " DESC" in first_arg:
            flags.append("unpartitioned-window")
            break
    if "CartesianProduct" in plan:
        flags.append("cartesian-product")
    if "BroadcastNestedLoopJoin" in plan:
        flags.append("broadcast-nested-loop-join (scalar crossJoins ok)")
    return sorted(set(flags))


# reviewed flags that are acceptable by design — the audit prints them
# as "known" so only NEW flags read as regressions
ACCEPTED = {
    "k12_rank_auc": "declared kernel SQL (SURVEY 2b): global-rank AUC "
                    "semantics demo; production AUC uses the "
                    "range-partitioned one-pass reduction (score.py)",
    "k13_infeasibility": "declared kernel SQL: sorted-prefix cumsum over "
                         "the p-sized gradient — model-sized in "
                         "production, data-sized only in the demo",
    "k14_strong_rule_prefix": "declared kernel SQL: same p-sized "
                              "sorted-prefix shape as k13",
    "p42_vocab_coverage": "cumulative window runs AFTER .limit(top_k) — "
                          "the frame is k rows (user-supplied, ~1e2) by "
                          "construction, never corpus- or vocab-sized; "
                          "the heavy lifting is a combinable groupBy + "
                          "TakeOrdered partial top-k",
    "p76_rrf_fusion": "both rank row_number() windows run AFTER "
                      ".limit(50): each frame is top-k-sized (50 rows) "
                      "by construction, never corpus-sized; the "
                      "corpus-scale work (BM25/LM scoring + partial "
                      "top-k) happens before the limit",
}


def skew_stress(spark) -> dict:
    """Measured bucket-skew profile of the LSH dedup and embedding
    near-dup joins on the adversarial fixtures (the evidence behind the
    'bounded buckets at 100 TB' claim; asserted by
    tests/test_scale_hygiene.py, recorded here per round)."""
    from golem_spark.pipeline.similarity import kmeans_seed_centroids
    from golem_spark.pipeline.skewstress import (adversarial_cell_embeddings,
                                                 adversarial_documents,
                                                 adversarial_embeddings,
                                                 embedding_bucket_stats,
                                                 ivf_cell_stats,
                                                 lsh_bucket_stats,
                                                 two_level_subcell_stats)

    cell_vecs = adversarial_cell_embeddings(spark, 4000).persist()
    try:
        ivf_first = ivf_cell_stats(cell_vecs, n_seeds=16)
        ivf_learned = ivf_cell_stats(
            cell_vecs,
            seed_centroids=kmeans_seed_centroids(cell_vecs, n_seeds=16))
        # VERDICT r8 item 2: the AUTO-sized quantizer (no n_seeds
        # passed anywhere) must bound the hot cell on its own
        ivf_auto_4k = ivf_cell_stats(
            cell_vecs, seed_centroids=kmeans_seed_centroids(cell_vecs))
        # VERDICT r10 item 5: level-2 sub-seed comparison — first-n
        # sub-seeds (the p124 oracle convention) vs the learned
        # per-cell mini-Lloyd sub-quantizer on the same hot-cell corpus
        sub_first = two_level_subcell_stats(cell_vecs, learned=False)
        sub_learned = two_level_subcell_stats(cell_vecs, learned=True)
    finally:
        cell_vecs.unpersist()
    cell_16k = adversarial_cell_embeddings(spark, 16000).persist()
    try:
        ivf_auto_16k = ivf_cell_stats(
            cell_16k, seed_centroids=kmeans_seed_centroids(cell_16k))
    finally:
        cell_16k.unpersist()
    return {
        "minhash_lsh": lsh_bucket_stats(adversarial_documents(spark, 4000)),
        "minhash_lsh_uniform_control": lsh_bucket_stats(
            adversarial_documents(spark, 1000, n_boiler=0, n_unique=16)),
        "embedding_srp": embedding_bucket_stats(
            adversarial_embeddings(spark, 4000)),
        "ivf_cells_first_n_seeds": ivf_first,
        "ivf_cells_learned_seeds": ivf_learned,
        "ivf_cells_auto_4k": ivf_auto_4k,
        "ivf_cells_auto_16k": ivf_auto_16k,
        "semdedup2_subcells_first_n": sub_first,
        "semdedup2_subcells_learned": sub_learned,
    }


def wide_p_ceiling(spark, sf_dir: str) -> dict:
    """VERDICT r9 item 6 — run the 100x wide-p story end-to-end once
    instead of asserting it from microbenches: a distributed sparse
    gaussian SLOPE path at p≈100k (10x the ultrawide bench query, same
    one-hot long-format design off lineitem). The claim this records:
    strong-rule screening keeps every path point's active set a small
    fraction of p, KKT violations stay rare, and wall-clock is tens of
    seconds, not hours."""
    import time

    from pyspark.sql import functions as F

    from golem_spark.path import owl
    from golem_spark.session import load_tables

    li = load_tables(spark, sf_dir)["lineitem"]
    p = 100_007
    frame = li.select(
        F.array((F.col("l_linenumber") - 1).cast("int"),
                (F.lit(7) + F.pmod(F.col("l_orderkey"),
                                   F.lit(50_000))).cast("int"),
                (F.lit(50_007) + F.pmod(F.col("l_partkey"),
                                        F.lit(50_000))).cast("int")
                ).alias("idx"),
        F.array(F.lit(1.0), F.lit(1.0), F.lit(1.0)).alias("val"),
        F.col("l_quantity").alias("label"))
    n = frame.count()
    t0 = time.monotonic()
    fit = owl(df=frame, sparse_features=("idx", "val"), sparse_p=p,
              label_col="label", family="gaussian", n_sigma=4,
              lambda_min_ratio=0.65, lam="bh", q=0.2)
    wall = round(time.monotonic() - t0, 2)
    sizes = [int(len(a)) for a in fit.active_sets]
    return {
        "p": p,
        "n": int(n),
        "n_sigma_fitted": int(fit.n_sigma),
        "wall_sec": wall,
        "active_set_sizes": sizes,
        "max_active_fraction": round(max(sizes) / p, 6),
        "n_violations_per_point": [len(v) for v in fit.violations],
        "dev_ratio": [round(float(d), 6) for d in fit.deviance_ratio],
    }


def wide_p_ceiling_binomial(spark, sf_dir: str) -> dict:
    """VERDICT r10 item 4 — the NON-gaussian wide-p ceiling. The r10
    audit certified the screened gaussian path at p=100,007; the
    binomial prox-Newton path (per-active-set local Hessians, Bohning
    bound) was only certified at p=10,007. Same 100k one-hot design
    off lineitem, response l_returnflag R-vs-other, screening
    explicitly ON (the wide BENCH queries pin it off because their
    deep pinned sigmas activate ~half of p; the ceiling claim is about
    the screened near-sigma_max regime where active sets stay a small
    fraction of p)."""
    import time

    from pyspark.sql import functions as F

    from golem_spark.path import owl
    from golem_spark.session import load_tables

    li = load_tables(spark, sf_dir)["lineitem"]
    p = 100_007
    frame = li.select(
        F.array((F.col("l_linenumber") - 1).cast("int"),
                (F.lit(7) + F.pmod(F.col("l_orderkey"),
                                   F.lit(50_000))).cast("int"),
                (F.lit(50_007) + F.pmod(F.col("l_partkey"),
                                        F.lit(50_000))).cast("int")
                ).alias("idx"),
        F.array(F.lit(1.0), F.lit(1.0), F.lit(1.0)).alias("val"),
        F.when(F.col("l_returnflag") == "R", "R").otherwise("other")
        .alias("label"))
    n = frame.count()
    t0 = time.monotonic()
    fit = owl(df=frame, sparse_features=("idx", "val"), sparse_p=p,
              label_col="label", family="binomial", n_sigma=4,
              lambda_min_ratio=0.65, lam="bh", q=0.2, screening=True)
    wall = round(time.monotonic() - t0, 2)
    sizes = [int(len(a)) for a in fit.active_sets]
    return {
        "p": p,
        "n": int(n),
        "family": "binomial",
        "screening": True,
        "n_sigma_fitted": int(fit.n_sigma),
        "wall_sec": wall,
        "active_set_sizes": sizes,
        "max_active_fraction": round(max(sizes) / p, 6),
        "n_violations_per_point": [len(v) for v in fit.violations],
        "dev_ratio": [round(float(d), 6) for d in fit.deviance_ratio],
    }


def wide_p_ceiling_multinomial(spark, sf_dir: str) -> dict:
    """Round 11 — the MULTI-TARGET wide-p ceiling, completing the
    family matrix (gaussian r10, binomial r11). Multinomial is the
    structurally heaviest path: m-1 coefficient columns per feature
    (the sorted-L1 prox and the screening gradient run over p*(m-1)
    entries) and per-class prox-Newton pseudo-gradients. Same 100k
    one-hot design off lineitem, response l_returnflag A/N/R with R
    dropped (m=2 targets), screening ON — the claim is the screened
    near-sigma_max regime keeps active sets a small fraction of p for
    the multi-target solver too."""
    import time

    from pyspark.sql import functions as F

    from golem_spark.path import owl
    from golem_spark.session import load_tables

    li = load_tables(spark, sf_dir)["lineitem"]
    p = 100_007
    frame = li.select(
        F.array((F.col("l_linenumber") - 1).cast("int"),
                (F.lit(7) + F.pmod(F.col("l_orderkey"),
                                   F.lit(50_000))).cast("int"),
                (F.lit(50_007) + F.pmod(F.col("l_partkey"),
                                        F.lit(50_000))).cast("int")
                ).alias("idx"),
        F.array(F.lit(1.0), F.lit(1.0), F.lit(1.0)).alias("val"),
        F.col("l_returnflag").alias("label"))
    n = frame.count()
    t0 = time.monotonic()
    fit = owl(df=frame, sparse_features=("idx", "val"), sparse_p=p,
              label_col="label", family="multinomial", n_sigma=4,
              lambda_min_ratio=0.65, lam="bh", q=0.2, screening=True)
    wall = round(time.monotonic() - t0, 2)
    sizes = [int(len(a)) for a in fit.active_sets]
    return {
        "p": p,
        "n": int(n),
        "family": "multinomial",
        "m_targets": int(fit.coefficients.shape[1]),
        "screening": True,
        "n_sigma_fitted": int(fit.n_sigma),
        "wall_sec": wall,
        "active_set_sizes": sizes,
        "max_active_fraction": round(max(sizes) / p, 6),
        "n_violations_per_point": [len(v) for v in fit.violations],
        "dev_ratio": [round(float(d), 6) for d in fit.deviance_ratio],
    }


def _tall_frame(spark, n_rows: int, p: int, family: str,
                n_classes: int = 4):
    """Synthetic tall design, never materialized: p feature columns
    from 32-bit column hashes of the row id (JVM-side, whole-stage
    codegen — zero Python in the scan), a planted linear signal on
    the first 5 features, family-encoded response. spark.range is
    splittable, so the frame scans like a 100 TB table: every pass
    streams n_rows x p doubles through the executors."""
    from pyspark.sql import functions as F

    cols = [(F.hash(F.col("id") * F.lit(p + 1) + F.lit(j))
             / F.lit(2147483648.0)).alias(f"x{j}") for j in range(p)]
    df = spark.range(0, n_rows, 1, 64).select(*cols)
    lp = (F.lit(2.0) * F.col("x0") - F.lit(1.5) * F.col("x1")
          + F.col("x2") - F.lit(0.75) * F.col("x3")
          + F.lit(0.5) * F.col("x4"))
    noise = F.hash((F.col("x0") * F.lit(1e6)).cast("long")) / F.lit(2147483648.0)
    if family == "gaussian":
        label = lp + F.lit(0.5) * noise
    elif family == "binomial":
        label = (lp + noise > 0).cast("double")
    elif family == "multinomial":
        # n_classes (default 4) by thresholding the same planted
        # signal over evenly spaced cuts in [-2, 2]: every class has
        # mass (the hash noise spreads z), the extreme classes are the
        # tails so the decision structure is genuinely multiclass.
        # n_classes parameterizes the m-payload scaling audit
        # (VERDICT r13 item 5): m = n_classes - 1 scales the p x m
        # gradient payload per pass, never the pass count.
        z = lp + noise
        width = 4.0 / n_classes
        label = (F.least(F.greatest(F.floor((z + F.lit(2.0)) / F.lit(width)),
                                    F.lit(0)), F.lit(n_classes - 1))
                 ).cast("double")
    elif family == "poisson":
        # bounded rate so counts stay modest (exp clipped at e^2~7.4)
        label = F.floor(F.exp(F.least(F.lit(0.4) * lp + F.lit(0.3) * noise,
                                      F.lit(2.0)))).cast("double")
    else:
        raise ValueError(f"unknown family {family!r}")
    return df.withColumn("label", label)


def tall_n_ceiling(spark, family: str, n_rows: int, p: int,
                   n_sigma: int = 4,
                   lambda_min_ratio: float = 0.5,
                   n_classes: int = 4) -> dict:
    """VERDICT r11 item 1 — the TALL direction of the 100 TB story,
    measured end-to-end (the symmetric counterpart of the three wide-p
    ceilings). n >> p is the regime the design targets (SURVEY §4 "the
    big-data sweet spot"; reference factorize-once design
    src/owl.cpp:171-215, n>=p branch src/families/gaussian.h:88-93):

    * gaussian: ONE fused distributed pass computes Gram + X'y +
      ||y||^2 (backend.gaussian_sufficient_stats) and the ENTIRE path
      is then driver-local ADMM on the p x p sufficient statistics —
      the Spark job count is asserted, not argued;
    * binomial: prox-Newton under the Bohning bound (p*m above the
      local-Hessian crossover) — ONE Gram pass for the whole fit,
      then one p-vector gradient pass per outer iteration;
      fit.passes records the per-point pass counts;
    * multinomial (r12 item 3): the Bohning/_KronH structured path at
      m = 3 (4 classes) — same one-Gram-pass shape as binomial, one
      combined pass per outer iteration carrying a p x m payload;
    * poisson (r12 item 3): local weighted Hessian, refreshed per
      outer iteration, with step-halving line searches — every
      backtrack is one more eval_hess pass, counted in fit.passes,
      and there is NO whole-fit Gram pass.

    Records wall, Spark jobs, per-point solver passes, peak driver
    RSS, and scan throughput (rows/s through the heaviest pass)."""
    import resource
    import time

    from golem_spark.path import owl

    frame = _tall_frame(spark, n_rows, p, family, n_classes=n_classes)
    sc = spark.sparkContext
    # unique per configuration: statusTracker accumulates job ids per
    # group name for the session, so repeated runs of one family (the
    # m-payload sweep) must not share a group
    group = f"tall_n_{family}_{n_rows}_{n_classes}"
    # re-enable whole-stage codegen for the ~200-field projections of
    # this section only (measured 2.8x on the tall scan) — the session
    # default stays 100 because iterative GLM fits re-compile every
    # pass (see the session.py note); restored below
    prev_mf = spark.conf.get("spark.sql.codegen.maxFields")
    spark.conf.set("spark.sql.codegen.maxFields", "500")
    sc.setJobGroup(group, "tall-n scale audit", False)
    t0 = time.monotonic()
    try:
        fit = owl(df=frame, feature_cols=[f"x{j}" for j in range(p)],
                  label_col="label", family=family, n_sigma=n_sigma,
                  lambda_min_ratio=lambda_min_ratio, screening=False)
    finally:
        spark.conf.set("spark.sql.codegen.maxFields", prev_mf)
    wall = round(time.monotonic() - t0, 2)
    sc.setJobGroup("", "", False)
    jobs = sorted(sc.statusTracker().getJobIdsForGroup(group))
    rss_gib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 2**20
    out = {
        "family": family,
        "n": int(n_rows),
        "p": int(p),
        **({"n_classes": int(n_classes)} if family == "multinomial" else {}),
        "n_sigma_fitted": int(fit.n_sigma),
        "wall_sec": wall,
        "spark_jobs": len(jobs),
        "solver_passes_per_point": [int(x) for x in fit.passes],
        "driver_peak_rss_gib": round(rss_gib, 2),
        "rows_per_sec_per_data_pass": int(n_rows * len(jobs) / wall),
        "dev_ratio": [round(float(d), 6) for d in fit.deviance_ratio],
    }
    if family == "gaussian":
        # the whole-fit contract, measured job by job: the fused
        # build-stats agg runs as 2 AQE stage-jobs (partial + final
        # exchange stage), the fused Gram+X'y+yty mapInArrow partial
        # collect is 1 job, and every ADMM iteration after that is
        # driver-local. 3 exactly; a 4th job = a distributed pass
        # leaked into the path loop.
        out["expected_jobs"] = 3
        out["job_count_ok"] = bool(len(jobs) == 3)
    else:
        # build stats (2 AQE stage-jobs; for binomial/multinomial the
        # grouped-by-label variant also yields the lambda_max gradient
        # and null means, so there is NO separate gradient scan — for
        # poisson the X'y ride-along does the same) + ONE Bohning
        # Gram pass (binomial/multinomial fixed majorizations;
        # poisson has no global curvature bound, so no Gram pass — its
        # extra cost is line-search eval_hess passes, which fit.passes
        # already counts per backtrack) + one combined gradient(+H)
        # pass per solver evaluation (sum(fit.passes); multinomial's
        # p x m gradient is still ONE pass — m scales the payload, not
        # the pass count) + one KKT/eval pass per path point;
        # aggregation-shaped passes may split into 2 AQE stage-jobs
        # each, hence the factor-2 ceiling
        gram_passes = 0 if family == "poisson" else 1
        expected = 2 * (2 + gram_passes + int(sum(fit.passes))
                        + int(fit.n_sigma))
        out["expected_jobs_upper"] = expected
        out["job_count_ok"] = bool(len(jobs) <= expected)
    return out


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    json_path = next((a.split("=", 1)[1] for a in sys.argv[1:]
                      if a.startswith("--json=")), None)
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    spark = get_spark("scale_audit")
    record = {}
    n_flagged = 0
    unexplained = 0
    for name, fn in entrymod.queries().items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            flags = audit_plan(plan)
        except Exception as e:  # noqa: BLE001
            flags = [f"EXCEPTION: {type(e).__name__}: {e}"]
        record[name] = flags
        if flags:
            n_flagged += 1
            known = " (known: " + ACCEPTED[name] + ")" if name in ACCEPTED \
                else ""
            # the BNLJ flag is informational by design (scalar
            # crossJoins legitimately compile to it); every other flag
            # needs an ACCEPTED annotation to count as explained
            if not known and any(
                    not f.startswith("broadcast-nested-loop-join")
                    for f in flags):
                unexplained += 1
            print(f"FLAG {name}: {flags}{known}")
    print(f"\n{n_flagged} of {len(record)} query plans flagged at {sf_dir}; "
          f"{unexplained} unexplained (non-informational, no annotation)")
    skew = None
    if "--no-skew" not in sys.argv[1:]:
        skew = skew_stress(spark)
        for k, v in skew.items():
            print(f"SKEW {k}: {v}")
    widep = None
    widep_b = None
    widep_m = None
    if "--no-widep" not in sys.argv[1:]:
        widep = wide_p_ceiling(spark, sf_dir)
        print(f"WIDE-P {widep}")
        widep_b = wide_p_ceiling_binomial(spark, sf_dir)
        print(f"WIDE-P-BINOMIAL {widep_b}")
        widep_m = wide_p_ceiling_multinomial(spark, sf_dir)
        print(f"WIDE-P-MULTINOMIAL {widep_m}")
    tall_g = None
    tall_b = None
    tall_m = None
    tall_m8 = None
    tall_m16 = None
    tall_p = None
    if "--no-talln" not in sys.argv[1:]:
        # gaussian: 2e7 x 200 whole-path-from-one-stats-pass; binomial:
        # 1e7 x 200, 2-point near-sigma_max path (the pass-accounting
        # claim, not a deep fit — each gradient pass scans all rows);
        # multinomial (VERDICT r12 item 3): 5e6 x 200 x 4 classes —
        # the Bohning/_KronH path at m=3, p*m=603 >> the 60 local-H
        # crossover, one distributed pass per outer iteration with an
        # m-scaled payload; poisson: 1e7 x 200 — local-Hessian line
        # searches, extra eval_hess passes per backtrack, no Gram pass
        tall_g = tall_n_ceiling(spark, "gaussian", 20_000_000, 200,
                                n_sigma=4, lambda_min_ratio=0.5)
        print(f"TALL-N-GAUSSIAN {tall_g}")
        tall_b = tall_n_ceiling(spark, "binomial", 10_000_000, 200,
                                n_sigma=2, lambda_min_ratio=0.8)
        print(f"TALL-N-BINOMIAL {tall_b}")
        tall_m = tall_n_ceiling(spark, "multinomial", 5_000_000, 200,
                                n_sigma=2, lambda_min_ratio=0.8)
        print(f"TALL-N-MULTINOMIAL {tall_m}")
        # m-payload scaling (VERDICT r13 item 5): same n x p, class
        # count 8 then 16 — the p x m gradient payload per pass is the
        # claimed 100x risk dimension, the pass count must NOT scale
        # with m (Bohning/_KronH: one combined pass per outer
        # iteration). Run in increasing-m order so the ru_maxrss
        # driver peak is attributable to the payload growth.
        tall_m8 = tall_n_ceiling(spark, "multinomial", 5_000_000, 200,
                                 n_sigma=2, lambda_min_ratio=0.8,
                                 n_classes=8)
        print(f"TALL-N-MULTINOMIAL-M8 {tall_m8}")
        tall_m16 = tall_n_ceiling(spark, "multinomial", 5_000_000, 200,
                                  n_sigma=2, lambda_min_ratio=0.8,
                                  n_classes=16)
        print(f"TALL-N-MULTINOMIAL-M16 {tall_m16}")
        tall_p = tall_n_ceiling(spark, "poisson", 10_000_000, 200,
                                n_sigma=2, lambda_min_ratio=0.8)
        print(f"TALL-N-POISSON {tall_p}")
    if json_path:
        import json

        with open(json_path, "w") as fh:
            json.dump({"sf_dir": sf_dir, "flags": record,
                       "unexplained_flags": unexplained,
                       "skew_stress": skew,
                       "wide_p_ceiling": widep,
                       "wide_p_ceiling_binomial": widep_b,
                       "wide_p_ceiling_multinomial": widep_m,
                       "tall_n_ceiling_gaussian": tall_g,
                       "tall_n_ceiling_binomial": tall_b,
                       "tall_n_ceiling_multinomial": tall_m,
                       "tall_n_ceiling_multinomial_m8": tall_m8,
                       "tall_n_ceiling_multinomial_m16": tall_m16,
                       "tall_n_ceiling_poisson": tall_p}, fh, indent=1)
        print(f"wrote {json_path}")


if __name__ == "__main__":
    main()
