"""Answer checks: every estimate against the error bound it returns itself.

A check returns a list of failure messages; an empty list means every value
of the answer is inside its bound around the exact oracle value.

Bounds of the standard-error kind (HLL's ``rse_bound`` and the set-union
``_err`` column are one standard error) are widened to ``Z`` standard errors.
Count-Min's ``err_bound`` (one-sided overcount) and the quantile sketches'
``rank_err_bound`` are guarantees and are used as returned.
"""

from __future__ import annotations

import numpy as np

from inputs import Truth

Z = 4.0  # standard errors; a correct sketch lands outside once in ~16,000 checks
QS = (0.1, 0.5, 0.9, 0.99)
TOPK = 10  # heavy hitters checked per source in a full build


def distinct(label: str, est: float, rse: float, exact: int) -> list[str]:
    if abs(est - exact) <= Z * rse * exact + 0.5:
        return []
    return [f"{label}: distinct estimate {est:.1f} vs exact {exact} (rse {rse})"]


def overcount(label: str, keys, ests, err: float, exact_of) -> list[str]:
    """Count-Min answers: exact <= estimate <= exact + err for every key."""
    out = []
    for k, e in zip(keys, ests):
        x = exact_of(k)
        if not (x <= e <= x + err + 1e-9):
            out.append(f"{label}: count of {k} estimated {e} vs exact {x} (+{err:.3f})")
    return out


def heavy(label: str, keys, err: float, exact_of, kth: int) -> list[str]:
    """Top-k answers: every returned key must be a heavy hitter. Each of the
    true top k has an estimate of at least the k-th largest exact count
    ``kth`` (Count-Min never undercounts), so a key ranked above one of them
    has an exact count of at least ``kth - err``."""
    out = []
    for k in keys:
        x = exact_of(k)
        if x < kth - err - 1e-9:
            out.append(f"{label}: {k} returned with exact count {x} < k-th largest {kth} - {err:.3f}")
    return out


def kth_largest(counts: np.ndarray, k: int) -> int:
    return int(np.partition(counts, len(counts) - k)[len(counts) - k])


def rank(label: str, q: float, value: float, bound: float, lo_hi) -> list[str]:
    """``value`` must sit at rank q within the returned rank error."""
    lo, hi = lo_hi(value)
    if lo - bound - 1e-9 <= q <= hi + bound + 1e-9:
        return []
    return [f"{label}: q={q} value {value} has rank [{lo:.4f}, {hi:.4f}] (bound {bound})"]


# --- sequences answers (states built over the seeded corpus) ---------------


def seq_answer(kind: str, rows: list, truth: Truth, k: int = 0) -> list[str]:
    """Rows of an approx_sql answer grouped by source, vs the exact truth."""
    errs = []
    groups = {r["group"] for r in rows}
    if groups != set(truth.by_source):
        return [f"{kind}: groups {sorted(groups)} vs {sorted(truth.by_source)}"]
    for r in rows:
        st = truth.by_source[r["group"]]
        if kind == "cd_doc":
            errs += distinct(f"cd_doc[{r['group']}]", r["estimate"], r["rse_bound"], st.distinct_docs)
        elif kind == "cd_tok":
            errs += distinct(f"cd_tok[{r['group']}]", r["estimate"], r["rse_bound"], st.distinct_tokens)
        elif kind == "topk":
            errs += overcount(f"topk[{r['group']}]", [r["token"]], [r["est_count"]], r["err_bound"],
                              lambda t, st=st: int(st.tok_counts[t]))
        elif kind == "pct":
            errs += rank(f"pct[{r['group']}]", r["q"], r["value"], r["rank_err_bound"], st.rank_interval)
    if kind == "topk":
        for g, st in truth.by_source.items():
            got = [r for r in rows if r["group"] == g]
            if len(got) != min(k, st.distinct_tokens):
                errs.append(f"topk[{g}]: {len(got)} rows for k={k}")
                continue
            errs += heavy(f"topk[{g}]", [r["token"] for r in got], got[0]["err_bound"],
                          lambda t, st=st: int(st.tok_counts[t]), kth_largest(st.tok_counts, k))
    return errs


def union_answer(rows: list, exact: int) -> list[str]:
    (r,) = rows
    est, err = r[0], r[1]
    if abs(est - exact) <= Z * err + 0.5:
        return []
    return [f"union: estimate {est:.1f} vs exact {exact} (err {err:.1f})"]


def built_states(states: dict, truth: Truth) -> list[str]:
    """The six sequence sketches of a full build, per source, vs the truth.

    ``states`` maps (group, sketch name) to a deserialized sketch."""
    errs = []
    if {g for g, _ in states} != set(truth.by_source):
        return [f"build: groups {sorted({g for g, _ in states})} vs {sorted(truth.by_source)}"]
    for g, st in truth.by_source.items():
        est, rse = states[(g, "hll_doc")].estimate()
        errs += distinct(f"hll_doc[{g}]", est, rse, st.distinct_docs)
        est, rse = states[(g, "hll_tok")].estimate()
        errs += distinct(f"hll_tok[{g}]", est, rse, st.distinct_tokens)
        cm, exact_of = states[(g, "cm_tok")], (lambda t, st=st: int(st.tok_counts[t]))
        top = np.argsort(st.tok_counts)[::-1][:TOPK]
        errs += overcount(f"cm_tok[{g}]", top.tolist(), cm.query(top).tolist(), cm.error_bound(), exact_of)
        ids, est = cm.topk(TOPK)
        errs += overcount(f"cm_tok.topk[{g}]", ids.tolist(), est.tolist(), cm.error_bound(), exact_of)
        errs += heavy(f"cm_tok.topk[{g}]", ids.tolist(), cm.error_bound(), exact_of,
                      kth_largest(st.tok_counts, TOPK))
        for name in ("kll_ntok", "td_ntok"):
            sk = states[(g, name)]
            for q, v in zip(QS, sk.quantiles(np.array(QS)).tolist()):
                errs += rank(f"{name}[{g}]", q, v, float(sk.error_bound()), st.rank_interval)
        present = np.nonzero(st.tok_counts)[0]
        missing = int((~states[(g, "bloom_tok")].contains(present)).sum())
        if missing:
            errs.append(f"bloom_tok[{g}]: {missing} present tokens reported absent")
    return errs


# --- the on-the-fly probe statement --------------------------------------


def count_distinct(label: str, rows: list, exact: int) -> list[str]:
    """An ungrouped APPROX_COUNT_DISTINCT answer."""
    if len(rows) != 1:
        return [f"{label}: {len(rows)} rows"]
    return distinct(label, rows[0]["estimate"], rows[0]["rse_bound"], exact)
