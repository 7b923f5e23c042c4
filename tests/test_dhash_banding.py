"""Pigeonhole exactness of the unified dhash banding (VERDICT r8 #1).

x_image_dhash_dedup's candidacy is composite 16-bit byte-PAIR bands:
a pair of signatures within hamming <= DHASH_T = 5 must share >= 2
intact bytes (5 flips corrupt at most 5 of 7), and any 2 intact bytes
are one of the C(7,2) = 21 pair keys — so banding loses NOTHING below
the threshold. This test computes the brute-force all-pairs result at
sf0.001 and asserts the banded query returns exactly that set — the
"result parity pinned" done-criterion of the r9 unification.
"""

from __future__ import annotations

import numpy as np

from ast_data_pipeline_spark.registry import load_all


def _brute_pairs(spark, sf_dir):
    from ast_data_pipeline_spark.queries.dedup import DHASH_COLS, DHASH_T

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    rows = docs.collect()
    cols = np.array(DHASH_COLS)
    sigs = {}
    for r in rows:
        t = "".join(ch if " " <= ch <= "~" else "?" for ch in r.text)
        t = (t + "x" * 96)[:96]
        pix = np.frombuffer(t.encode(), np.uint8).reshape(8, 12)
        g = pix[:, cols].astype(np.int32)
        bits = (g[:, :-1] > g[:, 1:]).ravel()
        h = 0
        for i, b in enumerate(bits):
            if b:
                h |= 1 << i
        sigs[int(r.doc_id)] = h
    ids = sorted(sigs)
    pairs = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = bin(sigs[a] ^ sigs[b]).count("1")
            if d <= DHASH_T:
                pairs.add((a, b, d))
    return pairs


def test_composite_banding_is_exact_below_threshold(spark, sf_dir):
    spec = load_all()["x_image_dhash_dedup"]
    got = {
        (int(r.doc_a), int(r.doc_b), int(r.hamming))
        for r in spec.fn(spark, sf_dir).collect()
    }
    brute = _brute_pairs(spark, sf_dir)
    assert got == brute, (
        f"banding lost {len(brute - got)} pairs / invented "
        f"{len(got - brute)} (brute={len(brute)}, banded={len(got)})"
    )
    assert len(brute) > 0, "degenerate fixture: no near-dup pairs at all"
