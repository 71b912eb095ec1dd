"""Exact oracles, computed in numpy from the generated inputs.

Every ``check_*`` returns a list of failure messages (empty means pass), so
a pass counts as failed when any list is non-empty and the self-test can
show that each check rejects a corrupted payload or a wrong answer.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from wordspell_spark.sketches import bloom, cms, freq, hll, kll, sample, tdigest, theta

QUANTILES = np.array([0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99])
TOP_N = 100  # CMS / Misra-Gries are checked on each group's top tokens
# cardinality checks allow 5 relative standard errors: every seed runs
# dozens of deterministic estimates, and at 3 an honest sketch would fail one
# in a few hundred of them
RSE_SIGMAS = 5.0


@dataclass
class GroupTruth:
    rows: int
    items: int  # tokens fed to the token kinds
    distinct: np.ndarray  # sorted distinct token ids
    counts: np.ndarray  # occurrences of each distinct token
    n_tok: np.ndarray  # sorted per-row n_tok values (quantile kinds)

    def count_of(self, items) -> np.ndarray:
        items = np.asarray(items, dtype=np.int64)
        if self.distinct.size == 0:
            return np.zeros(items.size, dtype=np.int64)
        pos = np.searchsorted(self.distinct, items).clip(max=self.distinct.size - 1)
        return np.where(self.distinct[pos] == items, self.counts[pos], 0)


def _truth(tokens: np.ndarray, n_tok: np.ndarray) -> GroupTruth:
    distinct, counts = np.unique(tokens, return_counts=True)
    return GroupTruth(int(n_tok.size), int(tokens.size), distinct, counts, np.sort(n_tok))


def token_truth(table: pa.Table, group_col: str = "source") -> dict:
    """{group: GroupTruth} plus the all-groups truth under key ``None``."""
    groups = np.asarray(table.column(group_col).to_numpy(zero_copy_only=False), dtype=object)
    n_tok = table.column("n_tok").to_numpy()
    flat = pc.list_flatten(table.column("tokens")).to_numpy().astype(np.int64)
    per_row = pc.list_value_length(table.column("tokens")).to_numpy()
    row_of_tok = np.repeat(groups, per_row)
    out = {None: _truth(flat, n_tok)}
    for g in np.unique(groups):
        out[g] = _truth(flat[row_of_tok == g], n_tok[groups == g])
    return out


# ------------------------------------------------------------ per-kind checks


def _cardinality(name, est, true, rse) -> list[str]:
    if abs(est - true) > RSE_SIGMAS * rse * true:
        return [f"{name}: estimate {est:.1f} vs exact {true} outside {RSE_SIGMAS}*RSE={rse:.4f}"]
    return []


def check_hll(payload: bytes, t: GroupTruth) -> list[str]:
    st = hll.deserialize(payload)
    return _cardinality("hll", hll.estimate(st), t.distinct.size, hll.rse(st))


def check_theta(payload: bytes, t: GroupTruth) -> list[str]:
    st = theta.deserialize(payload)
    est = theta.estimate(st)
    if theta.is_exact(st):
        return [] if est == t.distinct.size else [f"theta: exact mode {est} != {t.distinct.size}"]
    return _cardinality("theta", est, t.distinct.size, theta.rse(st))


def check_cms(payload: bytes, t: GroupTruth) -> list[str]:
    st = cms.deserialize(payload)
    top = np.argsort(-t.counts, kind="stable")[:TOP_N]
    est = cms.query(st, t.distinct[top])
    true = t.counts[top]
    bad = (est < true) | (est > true + cms.error_bound(st))
    out = [] if st.total == t.items else [f"cms: total {st.total} != {t.items}"]
    if bad.any():
        out.append(f"cms: {int(bad.sum())} top tokens outside [true, true+eps*N]")
    return out


def check_bloom(payload: bytes, t: GroupTruth) -> list[str]:
    miss = ~bloom.contains(bloom.deserialize(payload), t.distinct)
    return [f"bloom: {int(miss.sum())} false negatives"] if miss.any() else []


def _rank_errors(sorted_vals: np.ndarray, est: np.ndarray) -> np.ndarray:
    """Distance of each target quantile from the exact rank interval of its
    estimate (ties in the data make the exact rank an interval)."""
    n = sorted_vals.size
    lo = np.searchsorted(sorted_vals, est, side="left") / n
    hi = np.searchsorted(sorted_vals, est, side="right") / n
    return np.maximum(0.0, np.maximum(lo - QUANTILES, QUANTILES - hi))


def check_kll(payload: bytes, t: GroupTruth) -> list[str]:
    st = kll.deserialize(payload)
    # merged sketches: twice the single-sketch bound, as the merge-law tests use
    bound = 2 * kll.error_bound(st)
    err = _rank_errors(t.n_tok, kll.quantile(st, QUANTILES))
    out = [] if st.n == t.rows else [f"kll: n {st.n} != {t.rows}"]
    if err.max() > bound:
        out.append(f"kll: rank error {err.max():.4f} > {bound:.4f}")
    return out


def check_tdigest(payload: bytes, t: GroupTruth) -> list[str]:
    st = tdigest.deserialize(payload)
    # the merge-law tests hold merged digests to 0.03 at delta=200; the rank
    # error of the k1 scale grows as 1/delta, so scale that bound
    bound = 0.03 * 200.0 / st.delta
    err = _rank_errors(t.n_tok, tdigest.quantile(st, QUANTILES))
    out = [] if st.n == t.rows else [f"tdigest: n {st.n} != {t.rows}"]
    if err.max() > bound:
        out.append(f"tdigest: rank error {err.max():.4f} > {bound:.4f}")
    return out


def check_freq(payload: bytes, t: GroupTruth) -> list[str]:
    st = freq.deserialize(payload)
    out = [] if st.n == t.items else [f"freq: n {st.n} != {t.items}"]
    items = np.array(list(st.counters), dtype=np.int64)
    if items.size:
        est = np.array([st.counters[i] for i in items.tolist()], dtype=np.int64)
        if (est > t.count_of(items)).any():
            out.append("freq: Misra-Gries overcounts")
    top = np.argsort(-t.counts, kind="stable")[:TOP_N]
    under = t.counts[top] - freq.query(st, t.distinct[top])
    if (under > st.dec).any() or st.dec > st.n / (st.k + 1):
        out.append("freq: undercount beyond the decrement bound")
    return out


def check_sample(payload: bytes, t: GroupTruth) -> list[str]:
    st = sample.deserialize(payload)
    vals = np.array(sample.sample(st), dtype=np.int64)
    out = []
    if vals.size != min(st.k, t.distinct.size):
        out.append(f"sample: {vals.size} values, expected {min(st.k, t.distinct.size)}")
    if vals.size and not np.isin(vals, t.distinct).all():
        out.append("sample: values outside the distinct tokens")
    return out


CHECKS = {
    "bloom": check_bloom,
    "hll": check_hll,
    "cms": check_cms,
    "kll": check_kll,
    "tdigest": check_tdigest,
    "theta": check_theta,
    "freq": check_freq,
    "sample": check_sample,
}
QUANTILE_KINDS = {"kll", "tdigest"}  # fed n_tok, one value per row


def check_sketch_rows(rows: list[dict], truth: dict, kinds) -> list[str]:
    """Long-format sketch table (source, kind, sketch, rows, items) against
    the per-source truth: every (source, kind) once, exact rows/items, and
    each estimate inside its bound."""
    out = []
    seen = [(r["source"], r["kind"]) for r in rows]
    want = {(g, k) for g in truth if g is not None for k in kinds}
    if sorted(seen) != sorted(want):
        out.append(f"sketch table has {len(seen)} rows, expected {len(want)} (source, kind) pairs")
    for r in rows:
        t = truth.get(r["source"])
        if t is None or r["kind"] not in CHECKS:
            continue
        items = t.rows if r["kind"] in QUANTILE_KINDS else t.items
        if r["rows"] != t.rows or r["items"] != items:
            out.append(f"{r['source']}/{r['kind']}: rows/items {r['rows']}/{r['items']} != {t.rows}/{items}")
        out += [f"{r['source']}/{m}" for m in CHECKS[r["kind"]](r["sketch"], t)]
    return out


def check_merged(merged: dict[str, bytes], t: GroupTruth) -> list[str]:
    """Globally merged payload per kind against the all-sources truth."""
    return [f"global/{m}" for k, p in merged.items() for m in CHECKS[k](p, t)]


def check_checkpoint(rows: list[dict], reference: dict[str, bytes], truth: dict) -> list[str]:
    """Finalized checkpoint table (source, sketch, rows, items): payloads
    byte-equal to a one-pass build, exact rows/items (a double-counted
    resume shows here), HLL inside ``RSE_SIGMAS`` RSE."""
    out = []
    got = {r["source"]: r for r in rows}
    if set(got) != set(reference):
        out.append(f"finalize groups {sorted(got)} != {sorted(reference)}")
    for g, r in got.items():
        t = truth.get(g)
        if t is None:
            continue
        if r["sketch"] != reference.get(g):
            out.append(f"{g}: finalize payload differs from the one-pass build")
        if r["rows"] != t.rows or r["items"] != t.items:
            out.append(f"{g}: rows/items {r['rows']}/{r['items']} != {t.rows}/{t.items}")
        out += [f"{g}/{m}" for m in check_hll(r["sketch"], t)]
    return out


# ------------------------------------------------------------ spell checks


def check_index(rows: list[tuple[str, str, int]], exact: dict) -> list[str]:
    got = {(lang, w): int(f) for lang, w, f in rows}
    if got == exact:
        return []
    missing = len(exact.keys() - got.keys())
    extra = len(got.keys() - exact.keys())
    wrong = sum(1 for k in exact.keys() & got.keys() if exact[k] != got[k])
    return [f"index: {missing} missing, {extra} extra, {wrong} wrong frequencies"]


def check_bloom_hashes(payload: bytes, member_hashes: np.ndarray) -> list[str]:
    """No false negatives over the deletion neighbourhood of the index."""
    miss = ~bloom.contains_hashes(bloom.deserialize(payload), member_hashes)
    return [f"deletion bloom: {int(miss.sum())} false negatives"] if miss.any() else []


def check_corrections(corrected: np.ndarray, queries: np.ndarray, kind: np.ndarray) -> list[str]:
    """Untouched queries must come back unchanged, and every query must
    come back."""
    if corrected.size != queries.size or any(c is None for c in corrected):
        return [f"correct_queries returned {corrected.size} rows for {queries.size} queries"]
    keep = kind == "untouched"
    changed = int((corrected[keep] != queries[keep]).sum())
    return [f"spell: {changed} untouched queries changed"] if changed else []


def recall(corrected: np.ndarray, truth: np.ndarray, kind: np.ndarray) -> float:
    """Share of corrupted queries corrected back to the original word(s)."""
    bad = kind != "untouched"
    return float((corrected[bad] == truth[bad]).mean()) if bad.any() else 1.0
