"""Generate the pinned golden sketch payloads in tests/fixtures/.

Run ONCE (or after an intentional, version-bumped format change):

    python tools/make_golden_sketches.py

The fixtures guard against silent serialization drift — numpy dtype/endianness
changes, hash reordering, layout edits without a VERSION bump — that
same-process round-trip tests cannot catch (round-3 verdict item 8).  The
builder input is fully deterministic, so a byte-difference in a regenerated
blob ALWAYS means the format or the hash chain changed; tests/test_golden_blobs.py
pins both the bytes and the query answers.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

from wordspell_spark.sketches import SketchSpec

FIXTURES = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "fixtures")

# deterministic inputs — NOT rng-based, so the recipe is obvious and eternal
TOKENS = [f"tok{i * i % 997}" for i in range(5000)]
INTS = [i * i % 997 for i in range(5000)]
NUMBERS = [float((i * 37 % 1000) - 500) / 3.0 for i in range(5000)]

SPECS = {
    "bloom": (SketchSpec("bloom", {"n_estimate": 2000, "fpr": 0.01}), TOKENS),
    "hll": (SketchSpec("hll", {"p": 10}), TOKENS),
    "cms": (SketchSpec("cms", {"width": 256, "depth": 4}), TOKENS),
    "kll": (SketchSpec("kll", {"k": 64}), NUMBERS),
    "tdigest": (SketchSpec("tdigest", {}), NUMBERS),
    # TOKENS has 499 distinct values (quadratic residues mod 997 incl. 0);
    # k=256 < 499 puts the theta blob in estimating mode, k=512 would be exact
    "theta": (SketchSpec("theta", {"k": 256}), TOKENS),
    "freq": (SketchSpec("freq", {"k": 32}), TOKENS),
    "sample": (SketchSpec("sample", {"k": 128}), TOKENS),  # 128 < 499: estimating
    # geometry sized far above 499 distinct keys, so serialize picks the
    # sparse wire form (FLAG_SPARSE) for these three
    "bloom_sparse": (SketchSpec("bloom", {"n_estimate": 200_000, "fpr": 0.01}), TOKENS),
    "hll_sparse": (SketchSpec("hll", {"p": 14}), TOKENS),
    "cms_sparse": (SketchSpec("cms", {"width": 4096, "depth": 4}), TOKENS),
    # the int item block (the str form is pinned by "freq" / "sample")
    "freq_int": (SketchSpec("freq", {"k": 32}), INTS),
    "sample_int": (SketchSpec("sample", {"k": 128}), INTS),
}


def build(kind: str) -> bytes:
    spec, values = SPECS[kind]
    state = spec.create()
    # two-batch update exercises the merge-relevant accumulation path
    spec.update(state, values[:2500])
    spec.update(state, values[2500:])
    return spec.serialize(state)


def main() -> None:
    os.makedirs(FIXTURES, exist_ok=True)
    for kind in SPECS:
        payload = build(kind)
        path = os.path.join(FIXTURES, f"golden_{kind}.bin")
        with open(path, "wb") as f:
            f.write(payload)
        print(f"{kind}: {len(payload)} bytes -> {path}")
    # print the pinned query answers for test_golden_blobs.py
    from wordspell_spark.sketches import bloom, cms, hll, kll, tdigest

    b = SPECS["bloom"][0].deserialize(build("bloom"))
    print("bloom contains tok1,tok996,absent:", bloom.contains(b, ["tok1", "tok996", "never-seen-A", "never-seen-B"]))
    h = SPECS["hll"][0].deserialize(build("hll"))
    print("hll estimate:", round(hll.estimate(h), 3), "exact:", len(set(TOKENS)))
    c = SPECS["cms"][0].deserialize(build("cms"))
    print("cms query tok0,tok1,tok16:", cms.query(c, ["tok0", "tok1", "tok16"]))
    k = SPECS["kll"][0].deserialize(build("kll"))
    print("kll quantiles:", kll.quantile(k, [0.1, 0.5, 0.9]))
    t = SPECS["tdigest"][0].deserialize(build("tdigest"))
    print("tdigest quantiles:", [round(float(x), 6) for x in tdigest.quantile(t, [0.1, 0.5, 0.9])])
    from wordspell_spark.sketches import freq, theta

    th = SPECS["theta"][0].deserialize(build("theta"))
    print("theta estimate:", round(theta.estimate(th), 3), "exact:", len(set(TOKENS)))
    fr = SPECS["freq"][0].deserialize(build("freq"))
    print("freq n/dec:", fr.n, fr.dec, "query tok0,tok1,tok16:", freq.query(fr, ["tok0", "tok1", "tok16"]))
    from wordspell_spark.sketches import sample

    sm = SPECS["sample"][0].deserialize(build("sample"))
    print("sample estimate:", round(sample.estimate(sm), 3), "head:", sample.sample(sm)[:3])


if __name__ == "__main__":
    main()
