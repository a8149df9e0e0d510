"""Output checks.  Each returns a list of failure messages (empty = pass);
a timed call with any failure counts as failed."""

from __future__ import annotations

import json
import math
import sys

# A false-positive count is rejected when seeing that many or more under
# Binomial(n, fpr_bound) is less likely than this.
FP_TAIL = 1e-6
# HLL's published bound is its standard error 1.04/sqrt(m); estimates are
# checked to within this many standard errors.
HLL_Z = 4.0
KLL_QUANTILES = (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)


def exact_answers(path: str) -> dict:
    """The exact answers the checks compare against, computed with pyarrow
    from the corpus files — independently of Spark and of the library."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    data = ds.dataset(str(path), format="parquet")
    t = data.to_table(columns=["url", "lang"])
    by_lang = t.group_by("lang").aggregate([("url", "count_distinct")])
    hosts = pc.struct_field(pc.extract_regex(t["url"], r"^[a-z]+://(?P<host>[^/:?#]+)"), [0])
    lens: dict[str, int] = {}
    for batch in data.to_batches(columns=["text"], batch_size=4096):
        for r in pc.value_counts(pc.utf8_length(batch.column(0))).to_pylist():
            lens[str(r["values"])] = lens.get(str(r["values"]), 0) + r["counts"]
    return {
        "guarded_urls": pc.sum(pc.less_equal(pc.binary_length(t["url"]), 2**20)).as_py(),
        "distinct_urls": pc.count_distinct(t["url"]).as_py(),
        "distinct_by_lang": dict(zip(by_lang["lang"].to_pylist(),
                                     by_lang["url_count_distinct"].to_pylist())),
        "host_counts": {r["values"]: r["counts"] for r in pc.value_counts(hosts).to_pylist()},
        "length_hist": lens,
    }


def poisson_upper_tail(k: int, lam: float) -> float:
    """P(X >= k) for X ~ Poisson(lam) — the binomial tail for the tiny p and
    large n of a Bloom false-positive count."""
    if k <= 0:
        return 1.0
    term = math.exp(-lam)
    below = term
    for i in range(1, k):
        term *= lam / i
        below += term
    return max(0.0, 1.0 - below)


def fp_upper_bound(fp: int, n: int) -> float:
    """One-sided 95% upper confidence bound on a false-positive rate after
    ``fp`` hits in ``n`` absent probes (Poisson, by bisection) — never 0,
    even when no false positive was seen."""
    lo, hi = 0.0, max(1.0, 10.0 * (fp + 3))
    for _ in range(200):
        mid = (lo + hi) / 2
        # P(X <= fp | mid) = 1 - P(X >= fp + 1 | mid)
        if 1.0 - poisson_upper_tail(fp + 1, mid) > 0.05:
            lo = mid
        else:
            hi = mid
    return hi / n


def bloom(out: dict, exact_keys: int, first_digest: str | None) -> list[str]:
    bad = []
    if out["false_negatives"]:
        bad.append(f"{out['false_negatives']} false negatives over inserted urls")
    if out["key_count"] != exact_keys:
        bad.append(f"key_count {out['key_count']} != exact guarded-url count {exact_keys}")
    lam = out["absent"] * out["fpr_bound"]
    if poisson_upper_tail(out["false_positives"], lam) < FP_TAIL:
        bad.append(f"{out['false_positives']} false positives over {out['absent']} absent "
                   f"urls exceeds the fpr_bound {out['fpr_bound']:.3g} tail")
    if first_digest is not None and out["digest"] != first_digest:
        bad.append("filter blob differs from an earlier build of the same corpus")
    return bad


def kll_rank_error(q: float, est: float, hist: dict[int, int]) -> float:
    """Distance from ``q`` to the exact rank interval [F(est-), F(est)] of
    an estimated quantile, over an exact value→count histogram."""
    total = sum(hist.values())
    below = sum(c for v, c in hist.items() if v < est)
    upto = below + hist.get(int(est), 0) if float(est).is_integer() else below
    lo, hi = below / total, upto / total
    return max(0.0, lo - q, q - hi)


def sketches(out: dict, exact: dict) -> tuple[list[str], float]:
    """Check each estimate against the exact answers; return the failures
    and the largest ratio of observed error to its limit."""
    bad, ratios = [], []

    def hll_check(label, est, truth, rel_err):
        ratio = abs(est - truth) / (truth * rel_err) / HLL_Z
        ratios.append(ratio)
        if ratio > 1.0:
            bad.append(f"{label}: estimate {est:.0f} vs exact {truth} beyond "
                       f"{HLL_Z} x {rel_err:.4f}")

    hll_check("hll_distinct", out["hll_distinct"], exact["distinct_urls"], out["hll_rel_err"])
    if set(out["hll_by_group"]) != set(exact["distinct_by_lang"]):
        bad.append("hll_by_group returned a different set of groups")
    for g, est in out["hll_by_group"].items():
        if g in exact["distinct_by_lang"]:
            hll_check(f"hll_by_group[{g}]", est, exact["distinct_by_lang"][g],
                      out["hll_group_rel_err"])
    cms_bound = out["cms_bound"]
    for host, truth in exact["host_counts"].items():
        est = out["cms"][host]
        err = est - truth
        ratios.append(max(err, 0) / cms_bound)
        if err < 0 or err > cms_bound:
            bad.append(f"cms[{host}]: estimate {est} vs exact {truth}, bound {cms_bound:.1f}")
    hist = {int(k): v for k, v in exact["length_hist"].items()}
    for q, est in zip(KLL_QUANTILES, out["kll"]):
        err = kll_rank_error(q, est, hist)
        ratios.append(err / out["kll_eps"])
        if err > out["kll_eps"]:
            bad.append(f"kll q={q}: rank error {err:.4f} > eps {out['kll_eps']:.4f}")
    return bad, max(ratios)


def dedup(out: dict, first: dict | None) -> list[str]:
    bad = []
    if out["n_docs"] <= 0:
        bad.append("kgram_dup_stats returned no documents")
    if first is not None:
        for key in ("dup_grams", "pairs"):
            if out[key] != first[key]:
                bad.append(f"{key} {out[key]} differs from an earlier run's {first[key]}")
    return bad


if __name__ == "__main__":
    # python3 checks.py <corpus.parquet>: print the exact answers as JSON
    print(json.dumps(exact_answers(sys.argv[1])))
